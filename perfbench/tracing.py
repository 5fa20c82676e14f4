"""Traced runs: layer spans from wrappers, Spark counters from the event log.

Spans are recorded from the benchmark's side only: public functions of the
program's layer modules are replaced, for the duration of a traced run, by
wrappers that record (name, start, end, parent). Nothing inside the program
changes. The Spark engine's own counters (jobs, stages, tasks, shuffle
bytes, executor CPU, GC) come from the Spark event log, which the traced
run enables in its work directory and parses after the session stops.

Registry queries are not wrapped: wrappers around the operators would
end up inside closures that Spark pickles to Python workers. Their time is
attributed to families by a fixed map (``workloads.REGISTRY_QUERIES``).
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict

PKG = "ecommerce_analytics_platform_spark"


class Tracer:
    """In-memory span recorder plus the patches that feed it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.counters: dict[str, float] = defaultdict(float)

    # -- spans -------------------------------------------------------------

    def _wrap(self, name: str, fn, written_to=None):
        """``written_to(args, kwargs)`` names the directory the call writes;
        bytes of files modified there during the call are added to the
        ``<name>.bytes`` counter."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = {"name": name, "start": time.perf_counter(), "end": None,
                    "parent": tracer._stack[-1] if tracer._stack else None}
            tracer.spans.append(span)
            tracer._stack.append(len(tracer.spans) - 1)
            wall0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._stack.pop()
                span["end"] = time.perf_counter()
                if written_to is not None:
                    tracer.counters[f"{name}.bytes"] += dir_bytes(
                        written_to(args, kwargs), since=wall0)

        return wrapper

    def patch_function(self, module, attr: str, name: str, written_to=None) -> None:
        """Replace ``module.attr`` and every ``from module import attr``
        alias already bound in the program's loaded modules."""
        orig = getattr(module, attr)
        wrapper = self._wrap(name, orig, written_to)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._undo.append((mod, key, orig))
                    setattr(mod, key, wrapper)

    def patch_method(self, cls, attr: str, name: str, written_to=None) -> None:
        orig = cls.__dict__[attr]
        self._undo.append((cls, attr, orig))
        setattr(cls, attr, self._wrap(name, orig, written_to))

    def unpatch(self) -> None:
        for obj, key, orig in reversed(self._undo):
            setattr(obj, key, orig)
        self._undo.clear()

    def mark(self) -> int:
        return len(self.spans)

    def summary(self, since: int = 0) -> dict[str, dict[str, float]]:
        """Per span name: total seconds, self seconds (minus direct
        children) and call count, over spans recorded after ``since``."""
        spans = self.spans[since:]
        child_time: dict[int, float] = defaultdict(float)
        for i, s in enumerate(spans, start=since):
            p = s["parent"]
            if p is not None and p >= since:
                child_time[p] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(spans, start=since):
            d = out.setdefault(s["name"], {"s": 0.0, "self_s": 0.0, "calls": 0})
            dur = s["end"] - s["start"]
            d["s"] += dur
            d["self_s"] += dur - child_time[i]
            d["calls"] += 1
        return out

    def top_level_s(self, since: int = 0) -> float:
        """Seconds covered by spans that have no recorded parent."""
        return sum(
            s["end"] - s["start"] for s in self.spans[since:]
            if s["parent"] is None or s["parent"] < since
        )


def dir_bytes(path: str, since: float) -> int:
    """Bytes of the files under ``path`` last modified at or after the
    epoch time ``since``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total


# ---------------------------------------------------------------------------
# Layer patches
# ---------------------------------------------------------------------------

def _arg(i: int, key: str):
    return lambda args, kwargs: args[i] if len(args) > i else kwargs[key]


def _table_path(args, kwargs):
    wh, table = args[0], (args[2] if len(args) > 2 else kwargs["table"])
    return wh.path(table)


def _manifest_path(args, _kwargs):
    return args[0].path


def install(tracer: Tracer) -> None:
    """Spans around the public entry points of the medallion and gold
    layers: ingest, warehouse loads, the model runner, the incremental
    merge and the manifest table's commits."""
    import ecommerce_analytics_platform_spark.operators.incremental as inc
    import ecommerce_analytics_platform_spark.pipeline  # noqa: F401 — aliases
    import ecommerce_analytics_platform_spark.plans.runner as runner
    import ecommerce_analytics_platform_spark.sources.ndjson as ndjson
    import ecommerce_analytics_platform_spark.streaming.ingest as ingest
    from ecommerce_analytics_platform_spark.sources.manifest import ManifestTable
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse

    tracer.patch_function(ingest, "run_backfill", "ingest.clickstream")
    tracer.patch_function(ndjson, "write_landing", "ingest.orders")
    tracer.patch_method(Warehouse, "append_new_dates", "warehouse.bronze")
    tracer.patch_method(Warehouse, "validate_table", "warehouse.validate")
    tracer.patch_method(Warehouse, "overwrite", "warehouse.overwrite", _table_path)
    tracer.patch_method(Warehouse, "append", "warehouse.append", _table_path)
    tracer.patch_function(runner, "run_models", "runner.models")
    tracer.patch_function(runner, "run_tests", "runner.tests")
    tracer.patch_function(inc, "merge_delete_insert", "incremental.merge", _arg(1, "target_path"))
    tracer.patch_method(ManifestTable, "merge_delete_insert", "manifest.merge", _manifest_path)
    tracer.patch_method(ManifestTable, "replace_partitions", "manifest.replace_partitions",
                        _manifest_path)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Counters of the jobs submitted in [t0_ms, t1_ms] (epoch ms), from
    the uncompressed JSON event log under ``log_dir`` (single-file or
    rolling layout)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    done_stages: set[int] = set()
    tasks: list[tuple[int, dict]] = []
    paths = [os.path.join(r, f) for r, _d, fs in os.walk(log_dir) for f in fs
             if not f.startswith(("appstatus", "."))]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sub = ev.get("Submission Time", 0)
                    if t0_ms <= sub <= t1_ms:
                        jid = ev["Job ID"]
                        jobs[jid] = ev.get("Properties") or {}
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    done_stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev.get("Stage ID"), ev.get("Task Metrics") or {}))
    stages = {s for s in done_stages if s in stage_job}
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": 0,
        "spark.shuffle_write_bytes": 0,
        "spark.executor_run_s": 0.0,
        "spark.executor_cpu_s": 0.0,
        "spark.gc_s": 0.0,
    }
    for sid, m in tasks:
        if sid not in stage_job:
            continue
        out["spark.tasks"] += 1
        out["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    batches: dict[str, int] = defaultdict(int)
    for props in jobs.values():
        bid = props.get("streaming.sql.batchId")
        if bid is not None:
            batches[bid] += 1
    if batches:
        counts = sorted(batches.values())
        out["stream.jobs_per_batch"] = counts[len(counts) // 2]
    return out
