"""The benchmark's own tests.

    python -m pytest perfbench -q -p no:cacheprovider

The first group needs no Spark: span bookkeeping, the event-log reader
and the result fingerprint. The rest need a local SparkSession: the
registry family map is checked against the operators each query calls,
and the last test reproduces a known program defect as an expected
failure.
"""

from __future__ import annotations

import os
import sys
import time

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402
from workloads import fingerprint  # noqa: E402


def test_self_time_subtracts_direct_children():
    tr = tracing.Tracer()

    def leaf():
        time.sleep(0.02)

    def outer():
        wrapped_leaf()
        time.sleep(0.01)

    wrapped_leaf = tr._wrap("leaf", leaf)
    tr._wrap("outer", outer)()
    summ = tr.summary()
    assert summ["leaf"]["calls"] == 1
    assert summ["outer"]["s"] >= summ["leaf"]["s"]
    assert summ["outer"]["self_s"] == pytest.approx(summ["outer"]["s"] - summ["leaf"]["s"])
    assert tr.top_level_s() == pytest.approx(summ["outer"]["s"])


def test_patch_function_replaces_aliases_and_unpatches():
    import ecommerce_analytics_platform_spark.operators.incremental as inc
    import ecommerce_analytics_platform_spark.plans.runner as runner

    orig = inc.merge_delete_insert
    tr = tracing.Tracer()
    tr.patch_function(inc, "merge_delete_insert", "incremental.merge")
    try:
        assert runner.merge_delete_insert is inc.merge_delete_insert
        assert inc.merge_delete_insert is not orig
    finally:
        tr.unpatch()
    assert inc.merge_delete_insert is orig and runner.merge_delete_insert is orig


def test_fingerprint_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", None]})
    b = pd.DataFrame({"y": [None, "a", "b"], "x": [3, 1, 2]})
    assert fingerprint(a) == fingerprint(b)
    assert fingerprint(a) != fingerprint(a.iloc[:2])


def test_event_log_window(tmp_path):
    import json

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 50,
         "Stage IDs": [0], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 150,
         "Stage IDs": [1], "Properties": {"streaming.sql.batchId": "0"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor CPU Time": 1e9}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 2e9, "Executor Run Time": 3000, "JVM GC Time": 100,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 42}}},
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = tracing.read_event_log(str(tmp_path), 100, 200)
    assert out["spark.jobs"] == 1 and out["spark.stages"] == 1 and out["spark.tasks"] == 1
    assert out["spark.executor_cpu_s"] == pytest.approx(2.0)
    assert out["spark.shuffle_write_bytes"] == 42
    assert out["stream.jobs_per_batch"] == 1


# ---------------------------------------------------------------------------
# Tests on a local SparkSession
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from ecommerce_analytics_platform_spark.session import get_spark

    s = get_spark("perfbench-tests", extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# family of each operator/function module; any other one is "other_ops"
_MODULE_FAMILY = {
    "similarity": "similarity", "dedup": "dedup", "fuzzy": "fuzzy",
    "membership": "membership", "corpus": "corpus", "bpe": "tokenize",
    "unigram": "tokenize", "text": "text", "multimodal": "multimodal",
    "jpeg": "multimodal", "codecs": "multimodal",
}


def _first_family(fn) -> str:
    """Family of the first public operators.*/functions.* function ``fn``
    calls (compat shims count as plain SQL), or "sql"."""
    found: list[str] = []

    def hook(frame, event, _arg):
        if event != "call" or frame.f_code.co_name.startswith(("_", "<")):
            return
        parts = frame.f_globals.get("__name__", "").split(".")
        if len(parts) == 3 and parts[0] == tracing.PKG and \
                parts[1] in ("operators", "functions") and parts[2] != "compat":
            found.append(_MODULE_FAMILY.get(parts[2], "other_ops"))
            sys.setprofile(None)

    sys.setprofile(hook)
    try:
        fn()
    finally:
        sys.setprofile(None)
    return found[0] if found else "sql"


def test_registry_family_map_matches_first_operator_call(spark, tmp_path):
    from ecommerce_analytics_platform_spark.plans.testdata_queries import QUERIES
    from inputs import write_registry_tables
    from workloads import REGISTRY_QUERIES

    sf_dir = str(tmp_path)
    write_registry_tables(sf_dir, seed=1)
    seen = {name: _first_family(lambda name=name: QUERIES[name][0](spark, sf_dir))
            for name in REGISTRY_QUERIES}
    assert seen == REGISTRY_QUERIES


# ---------------------------------------------------------------------------
# Known defect, pinned as an expected failure
# ---------------------------------------------------------------------------


@pytest.mark.xfail(
    strict=True, raises=AssertionError,
    reason="run_pipeline lands bronze.clickstream with a DATE ingest_date "
           "partition; the gold stream appends it as a string and raises "
           "SchemaEvolutionError. Flip this once the two agree.",
)
def test_gold_stream_after_batch_pipeline(spark, tmp_path):
    """streaming/gold.py recommends loading the warehouse with the batch
    pipeline first; streaming into that warehouse must then work."""
    from pyspark.errors import StreamingQueryException

    from ecommerce_analytics_platform_spark.pipeline import run_pipeline
    from ecommerce_analytics_platform_spark.streaming.gold import start_continuous_gold
    from inputs import write_drop

    lake = str(tmp_path / "lake")
    write_drop(os.path.join(lake, "raw"), seed=5, n_sessions=30)
    run_pipeline(spark, lake, full_refresh=True)

    stream_raw = str(tmp_path / "stream_raw")
    write_drop(stream_raw, seed=6, n_sessions=20)
    q = start_continuous_gold(
        spark, os.path.join(stream_raw, "clickstream"), os.path.join(lake, "warehouse"),
        str(tmp_path / "gold"), str(tmp_path / "ckpt"),
    )
    err = None
    try:
        q.awaitTermination(300)
    except StreamingQueryException as e:
        err = str(e)
    if err is not None and "ingest_date" not in err:
        raise RuntimeError(f"gold stream failed for another reason: {err[:2000]}")
    assert err is None, err[:2000]
