"""The benchmark's workloads. Each drives the engine's public functions
from one caller, as a closed loop: the next operation starts when the
previous one has returned.

A workload runs whole *units* (an episode of landed days, or a pass over
the query mix) until the run's measuring time has passed, so every run
measures the same kinds of operation in the same proportions. Checks run
after each unit, outside the timed region.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb
from nasdaq_equity_airflow_ecs_pipeline_spark.plans import pipeline
from nasdaq_equity_airflow_ecs_pipeline_spark.queries import ORACLES, QUERIES

import datagen
import oracle_harness
import spans

# -- nightly_backfill ------------------------------------------------------

# Days per episode. The quality gate's V5 check bounds the WHOLE fact
# table at 100 rows, so a warehouse fails the gate on its 21st day (5
# symbols x 20 days): an episode must stay at or below 20 days.
EPISODE_DAYS = 2
SYMBOLS = 5
TABLES = (
    "fact_stock_daily_price",
    "dim_stock",
    "dim_date",
    "dim_exchange",
    "agg_stock_weekly_metrics",
    "agg_stock_monthly_metrics",
    "agg_sector_performance",
)

# -- read_mix ----------------------------------------------------------------

DATA_SF = 0.1
MIX = (
    # star schema and TPC-H-ish: scan, join and shuffle path
    "q_scan_project_cast",
    "q_star_join",
    "q_tpch_q3_shipping_priority",
    "q_tpch_q5_local_supplier",
    "q_tpch_q6_forecast_revenue",
    "q_tpch_q21_waiting_suppliers",
    "q_weekly_rollup",
    "q_asof_join",
    # corpus curation: tokenizer, dedup and LSH operators; q_bpe_encode
    # runs eager driver-side jobs while its plan is built
    "q_bpe_encode",
    "q_minhash_pairs",
    "q_embedding_neardup_lsh",
    "q_line_dedup",
)

# The small table set every workload generates: the first parquet touch of
# set-up reads it, and read_mix checks its queries against the DuckDB
# oracles on it (DuckDB answers in seconds there).
CHECK_SF = 0.002
CHECK_MIN_ROWS = 100


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool
    group: str


@dataclass
class Region:
    """The operations of one timed region, with totals over its units."""

    units: list = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    wall_s: float = 0.0
    py_cpu_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    unit_mb: list[float] = field(default_factory=list)
    unit_files: list[int] = field(default_factory=list)
    files_written: int = 0

    def ops_per_min(self) -> float:
        return 60 * len(self.ops) / self.wall_s


def _fail(what: str) -> None:
    print(f"[perfbench] FAILED {what}", file=sys.stderr)


def dir_stats(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def _file_ids(root: str) -> set:
    out = set()
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out.add((d, f, st.st_ino, st.st_mtime_ns))
    return out


class Workload:
    """Common loop. ``spark`` and ``tracer`` are set by the caller; a
    tracer switches on spans and the layer counters."""

    op_span = "op"

    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        self.rng = random.Random(seed)
        self.spark = None
        self.tracer: spans.Tracer | None = None
        # untimed operations: warm-up and correctness checks
        self.checks: list[Op] = []
        self._n = 0

    def timed_region(self, seconds: float, replay: list | None = None) -> Region:
        """Whole units until ``seconds`` of unit time have passed, or
        exactly the units of ``replay``."""
        region = Region()
        sc = self.spark.sparkContext
        pid = spans.jvm_pid()
        while (len(region.units) < len(replay)) if replay else (region.wall_s < seconds):
            unit = replay[len(region.units)] if replay else self.next_unit()
            region.units.append(unit)
            py0, jvm0, gc0 = spans.py_cpu_s(), spans.jvm_cpu_s(pid), spans.jvm_gc_s(sc)
            t0 = time.perf_counter()
            self.run_unit(unit, region)
            region.wall_s += time.perf_counter() - t0
            region.py_cpu_s += spans.py_cpu_s() - py0
            region.jvm_cpu_s += spans.jvm_cpu_s(pid) - jvm0
            region.gc_s += spans.jvm_gc_s(sc) - gc0
            self.check_unit(unit, region)
        return region

    def _op(self, kind: str, fn) -> Op:
        """Run one operation under its own Spark job group."""
        self._n += 1
        group = f"op-{self._n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        if self.tracer is not None:
            self.tracer.op = group
        span = self.tracer.span(self.op_span) if self.tracer else contextlib.nullcontext()
        ok = True
        t0 = time.perf_counter()
        try:
            with span:
                fn()
        except Exception:
            ok = False
            _fail(f"{kind}:\n{traceback.format_exc()}")
        latency = time.perf_counter() - t0
        sc.setJobGroup("untimed", "checks")
        return Op(kind, latency, ok, group)

    def patches(self) -> dict:
        """``plans.pipeline`` attributes to wrap in spans when tracing."""
        return {}


class NightlyBackfill(Workload):
    """Land consecutive weekdays with ``plans.pipeline.run_pipeline``
    (validate=True, mock extract) into a fresh warehouse per episode."""

    op_span = "plans.run_pipeline"

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        # a seed-chosen weekday inside dim_date's 2020-2026 span, leaving
        # room for many episodes before the span ends
        self.day = self._weekday(
            dt.date(2020, 1, 1) + dt.timedelta(days=self.rng.randrange(5 * 365))
        )
        self._episodes = 0

    @staticmethod
    def _weekday(day: dt.date) -> dt.date:
        while day.weekday() >= 5:
            day += dt.timedelta(days=1)
        return day

    def untimed(self) -> None:
        """Warm-up episode in a throwaway warehouse: land one day, then land
        it again and check that no table's row count changed."""
        wh = os.path.join(self.work, "warmup")
        day = self.day.isoformat()
        land = self._op("warmup", lambda: pipeline.run_pipeline(self.spark, wh, day, validate=True))
        self.checks.append(land)
        before = self._counts(wh) if land.ok else {}
        reland = self._op("reland", lambda: pipeline.run_pipeline(self.spark, wh, day, validate=True))
        after = self._counts(wh) if reland.ok else {}
        if after != before:
            _fail(f"re-landing {day} changed row counts {before} -> {after}")
            reland.ok = False
        self.checks.append(reland)
        shutil.rmtree(wh)

    def next_unit(self) -> list[str]:
        days = []
        for _ in range(EPISODE_DAYS):
            days.append(self.day.isoformat())
            self.day = self._weekday(self.day + dt.timedelta(days=1))
        return days

    def _warehouse(self) -> str:
        return os.path.join(self.work, f"wh{self._episodes}")

    def run_unit(self, days: list[str], region: Region) -> None:
        self._episodes += 1
        wh = self._warehouse()
        for day in days:
            before = _file_ids(wh) if self.tracer else set()
            region.ops.append(self._op(
                "day", lambda d=day: pipeline.run_pipeline(self.spark, wh, d, validate=True)
            ))
            if self.tracer:
                region.files_written += len(_file_ids(wh) - before)

    @staticmethod
    def _counts(wh: str) -> dict[str, int]:
        """Row count per table, read by DuckDB (no Spark jobs); empty when
        a table cannot be read."""
        try:
            with duckdb.connect() as con:
                return {
                    t: con.sql(
                        f"SELECT count(*) FROM read_parquet('{wh}/{t}/**/*.parquet')"
                    ).fetchone()[0]
                    for t in TABLES
                }
        except duckdb.Error as exc:
            _fail(f"reading {wh}: {exc}")
            return {}

    def check_unit(self, days: list[str], region: Region) -> None:
        """fact rows = 5 x days landed and dim_stock = 5 symbols; a failed
        check fails every operation of the episode."""
        wh = self._warehouse()
        ops = region.ops[-len(days):]
        files, size = dir_stats(wh)
        region.unit_files.append(files)
        region.unit_mb.append(size / 1e6)
        expected = {
            "fact_stock_daily_price": SYMBOLS * sum(op.ok for op in ops),
            "dim_stock": SYMBOLS,
        }
        counts = self._counts(wh)
        got = {t: counts.get(t) for t in expected}
        if got != expected:
            _fail(f"episode {days}: row counts {got}, expected {expected}")
            for op in ops:
                op.ok = False
        shutil.rmtree(wh)

    def patches(self) -> dict:
        def cow_name(spark, df, path, *args, **kwargs):
            fact = os.path.basename(os.path.normpath(path)).startswith("fact_")
            return "upsert.fact_cow" if fact else "upsert.agg_cow"

        return {
            "generate_mock_quotes": "sources.extract",
            "write_quotes_jsonl": "sources.extract",
            "read_quotes_jsonl": "sources.read_quotes",
            "land_quotes": "plans.land_quotes",
            "upsert_parquet": "upsert.dim",
            "upsert_parquet_cow": cow_name,
            "assert_suite": "quality.suite",
        }


class ReadMix(Workload):
    """Seed-shuffled passes over the query mix at sf0.1, each query forced
    through the ``noop`` sink."""

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self.data = os.path.join(work, f"sf{DATA_SF}")
        datagen.write_tables(self.data, DATA_SF, seed)
        self.check = os.path.join(work, "check")
        self.bad: set[str] = set()  # queries that failed their oracle check

    def untimed(self) -> None:
        """Oracle check of every query of the mix against DuckDB on the
        small table set; this also warms the JIT for the mix."""
        con = oracle_harness.duck_connection(self.check)
        try:
            for name in MIX:
                rep = {}
                op = self._op(f"check:{name}", lambda n=name: rep.update(oracle_harness.compare(
                    QUERIES[n](self.spark, self.check), con, ORACLES[n])))
                if op.ok and not rep["values_match"]:
                    _fail(f"{name} oracle mismatch: {rep}")
                    op.ok = False
                self.checks.append(op)
        finally:
            con.close()
        self.bad = {op.kind.split(":", 1)[1] for op in self.checks if not op.ok}

    def next_unit(self) -> list[str]:
        order = list(MIX)
        self.rng.shuffle(order)
        return order

    def run_unit(self, order: list[str], region: Region) -> None:
        for name in order:
            region.ops.append(self._op(name, lambda n=name: self._query(n)))

    def _query(self, name: str) -> None:
        if self.tracer is None:
            QUERIES[name](self.spark, self.data).write.format("noop").mode("overwrite").save()
            return
        with self.tracer.span("queries.build"):
            df = QUERIES[name](self.spark, self.data)
        with self.tracer.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()

    def check_unit(self, order: list[str], region: Region) -> None:
        """A query that failed its oracle check fails each of its runs."""
        for op in region.ops[-len(order):]:
            if op.kind in self.bad:
                op.ok = False
        files, size = dir_stats(self.data)
        region.unit_files.append(files)
        region.unit_mb.append(size / 1e6)


WORKLOADS = {"nightly_backfill": NightlyBackfill, "read_mix": ReadMix}
