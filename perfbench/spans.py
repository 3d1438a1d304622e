"""Benchmark-side tracing: spans around the engine's public functions,
Spark job/stage/task counts from the status REST API, and process
resource readings from ``/proc``.

Spans are recorded by wrappers that replace a function in the module
that calls it (``plans.pipeline.upsert_parquet_cow``, not
``operators.upsert.upsert_parquet_cow``), so the engine itself is not
edited. A wrapper times the call only: a DataFrame the call returns
lazily is executed later, inside whichever span consumes it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.request

from pyspark import SparkContext


class Tracer:
    """In-memory span recorder. ``span`` nests; the innermost open span is
    the parent of the next one. Spans of one operation share ``op``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name_of):
        """``fn`` with each call inside a span; ``name_of(*args, **kw)``
        names the span (a string is used as is)."""

        def traced(*args, **kwargs):
            name = name_of if isinstance(name_of, str) else name_of(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, module, names: dict):
        """Replace ``module.<attr>`` by a traced wrapper for each
        ``attr -> span name`` in ``names`` and restore on exit."""
        saved = {attr: getattr(module, attr) for attr in names}
        try:
            for attr, name_of in names.items():
                setattr(module, attr, self.wrap(saved[attr], name_of))
            yield
        finally:
            for attr, fn in saved.items():
                setattr(module, attr, fn)

    def write(self, path: str, meta: dict) -> None:
        """One JSON object per line: a ``meta`` record, then every span."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(json.dumps({"meta": meta}) + "\n")
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


# -- Spark status (REST) ---------------------------------------------------

TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    # the status store must hold every job/stage of a run: past the default
    # 1000 jobs the early operations' jobs drop out and their counts shrink
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def _get(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.load(resp)


def spark_totals(sc, groups: set[str]) -> dict[str, float]:
    """Totals over the jobs of ``groups``: jobs, stages and tasks run,
    executor run time, input bytes and rows, shuffle write and spill
    bytes. Waits for the listener bus to drain first, so the status store
    holds every finished job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    stages = {s["stageId"]: s for s in _get(sc, "stages") if s["status"] == "COMPLETE"}
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "run_s", "input_b", "input_rows", "shuffle_write_b",
         "spill_b"), 0.0)
    for job in _get(sc, "jobs"):
        if job.get("jobGroup") not in groups:
            continue
        out["jobs"] += 1
        out["tasks"] += job["numCompletedTasks"]
        for sid in job["stageIds"]:
            st = stages.pop(sid, None)  # a stage counts once, in its first job
            if st is None:  # skipped: its output was reused
                continue
            out["stages"] += 1
            out["run_s"] += st["executorRunTime"] / 1e3
            out["input_b"] += st["inputBytes"]
            out["input_rows"] += st["inputRecords"]
            out["shuffle_write_b"] += st["shuffleWriteBytes"]
            out["spill_b"] += st["diskBytesSpilled"]
    return out


# -- process readings ------------------------------------------------------


def jvm_pid() -> int:
    return SparkContext._gateway.proc.pid


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def peak_rss_mb(pid: int) -> tuple[float, float]:
    """Peak resident set (high-water mark) of this Python process and of
    the JVM."""
    return _status_kb(os.getpid(), "VmHWM") / 1024, _status_kb(pid, "VmHWM") / 1024


def jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def py_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def jvm_gc_s(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3
