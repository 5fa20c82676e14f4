"""The benchmark's workloads and their output checks.

Each workload is a function ``(ctx) -> None`` that prepares its inputs
(counted in set-up time), runs its timed operations through ``ctx.op``
and checks their outputs. ``ctx`` is a :class:`run.Context`.

- ``medallion_registry``: the batch side of the system in one session.
  One full-refresh ``run_pipeline``, the first pipeline run of a fresh
  session, as a daily submit pays it; then one query per registry family,
  each timed once as its first execution in the session, fetched and
  checked against its DuckDB twin.
- ``gold_stream``: one ``availableNow`` micro-batch of the streaming gold
  layer over a fresh drop; gold tables checked against the batch models.
- ``medallion_incremental`` runs the day-2 incremental pipeline over an
  untimed day-1 build. It takes well over a minute per run, so it is run
  by hand rather than listed in BENCHMARK.json; ``gold_stream`` covers
  the incremental merge layer.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from inputs import parsable_event_ids, write_drop, write_registry_tables
from scripts.check_parity import TABLES, canon_cell

MODELS = (
    "staging.stg_clickstream_events", "staging.stg_clickstream_sessions",
    "staging.stg_orders", "staging.stg_order_items", "marts.fact_events",
    "marts.fact_sessions", "marts.fact_orders", "marts.fact_order_items",
    "marts.dim_users", "marts.dim_products", "marts.dim_date",
    "marts.dim_session_context", "marts.metrics_daily_kpis",
    "marts.metrics_daily_funnel", "marts.metrics_user_lifecycle",
    "marts.metrics_product_performance_daily",
)

FULL_SESSIONS = 3000
DAY2_SESSIONS = 1000
STREAM_DROP_SESSIONS = 200


def check_pipeline(result: dict, expected_events: int) -> list[str]:
    """Every model non-empty, every schema test 0, silver events equal to
    the distinct parsable ids of the generator output."""
    bad = [f"model {m} empty" for m in MODELS if not result["models"].get(m)]
    bad += [f"test {t} = {n}" for t, n in result["tests"].items() if n]
    got = result["models"].get("staging.stg_clickstream_events")
    if got != expected_events:
        bad.append(f"silver events {got} != {expected_events} parsable ids")
    return bad


# ---------------------------------------------------------------------------
# medallion_registry
# ---------------------------------------------------------------------------

def medallion_registry(ctx) -> None:
    """The full refresh as the first pipeline run of a fresh session, the
    way a daily submit pays it: class loading, JIT and plan codegen
    included. Measured here, that first run varies less between runs than
    a second, warm one, and it fits the run budget where warm-up plus a
    timed run does not. Then the registry queries, in the same session."""
    from ecommerce_analytics_platform_spark.pipeline import run_pipeline

    lake = os.path.join(ctx.work, "lake")
    events, orders = write_drop(os.path.join(lake, "raw"), ctx.seed, FULL_SESSIONS)
    ctx.note(raw_events=len(events), raw_orders=len(orders))
    expected = len(parsable_event_ids(events))
    sf_dir = os.path.join(ctx.work, "registry")
    ctx.note(registry_rows=write_registry_tables(sf_dir, ctx.seed))

    result = ctx.op("pipeline_full", lambda: run_pipeline(ctx.spark, lake, full_refresh=True))
    if result is not None:
        bad = check_pipeline(result, expected)
        if result["bronze"]["bronze.clickstream"] != len(events):
            bad.append("bronze rows != raw rows")
        ctx.check_last(bad)
    run_registry(ctx, sf_dir)


# ---------------------------------------------------------------------------
# medallion_incremental
# ---------------------------------------------------------------------------

def _age_ingest_date(root: str) -> None:
    """Rename every ``ingest_date=D`` partition under ``root`` to the day
    before D, as if the data had landed a day earlier, and rewrite the
    streaming file sink's ``_spark_metadata`` log to the new paths. The
    program stamps ``ingest_date`` from the wall clock and admits each date
    into bronze once, so a second drop on the same day would otherwise be
    dropped at bronze."""
    renamed: dict[str, str] = {}
    for cur, dirs, _files in os.walk(root):
        for d in list(dirs):
            if d.startswith("ingest_date="):
                day = dt.date.fromisoformat(d.split("=", 1)[1]) - dt.timedelta(days=1)
                renamed[d] = f"ingest_date={day}"
                os.rename(os.path.join(cur, d), os.path.join(cur, renamed[d]))
                dirs.remove(d)
    for cur, _dirs, files in os.walk(root):
        if os.path.basename(cur) != "_spark_metadata":
            continue
        for f in files:
            p = os.path.join(cur, f)
            if f.endswith(".crc"):  # checksum of the old text: drop it
                os.unlink(p)
                continue
            with open(p) as fh:
                text = fh.read()
            for old, new in renamed.items():
                text = text.replace(f"/{old}/", f"/{new}/")
            with open(p, "w") as fh:
                fh.write(text)


def medallion_incremental(ctx) -> None:
    from ecommerce_analytics_platform_spark.pipeline import run_pipeline
    from ecommerce_analytics_platform_spark.sources.ndjson import write_ndjson_fixture
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse

    lake = os.path.join(ctx.work, "lake")
    raw = os.path.join(lake, "raw")
    day1_events, _ = write_drop(raw, ctx.seed, FULL_SESSIONS, tag="day1-")
    run_pipeline(ctx.spark, lake, full_refresh=True)  # day 1, untimed
    for layer in ("landing", "warehouse"):
        _age_ingest_date(os.path.join(lake, layer))

    # day 2: new sessions plus the late day-1 events re-delivered
    day2_events, _ = write_drop(raw, ctx.seed + 7919, DAY2_SESSIONS, tag="day2-")
    late = [e for e in day1_events if e["event_time"] != e["ingest_time"]]
    write_ndjson_fixture(late, os.path.join(raw, "clickstream", "day2-late.json"))
    new_raw_bytes = sum(
        os.path.getsize(os.path.join(raw, "clickstream", f))
        for f in os.listdir(os.path.join(raw, "clickstream")) if f.startswith("day2-")
    )
    ctx.note(day2_events=len(day2_events) + len(late), day2_raw_bytes=new_raw_bytes)
    ctx.raw_input_bytes = new_raw_bytes
    wh = Warehouse(ctx.spark, os.path.join(lake, "warehouse"))
    bronze_before = wh.read("bronze.clickstream").count()
    expected = len(parsable_event_ids(day1_events + day2_events))

    result = ctx.op("pipeline_incr", lambda: run_pipeline(ctx.spark, lake, full_refresh=False))
    if result is not None:
        bad = check_pipeline(result, expected)
        grown = result["bronze"]["bronze.clickstream"] - bronze_before
        if grown != len(day2_events) + len(late):
            bad.append(f"bronze grew by {grown}, day-2 drop had {len(day2_events) + len(late)}")
        ctx.check_last(bad)


# ---------------------------------------------------------------------------
# gold_stream
# ---------------------------------------------------------------------------

def _canon(df, drop=()) -> list[tuple]:
    df = df.drop(*drop)
    cols = sorted(df.columns)
    rows = [
        tuple(round(v, 6) if isinstance(v, float) else v for v in (r[c] for c in cols))
        for r in df.select(*cols).collect()
    ]
    return sorted(rows, key=str)


GOLD_BUCKET_COLS = {
    "metrics_user_lifecycle": ("u_bucket",), "dim_users": ("u_bucket",),
    "dim_products": ("p_bucket",), "dim_session_context": ("s_bucket",),
}


def gold_stream(ctx) -> None:
    """One ``availableNow`` trigger of ``start_continuous_gold`` over one
    drop, on a fresh checkpoint, with ``staging.stg_orders`` loaded
    batch-side first (untimed). Timed: writing the drop until the
    trigger's gold commits return. Measured here, the first micro-batch
    of a stream costs about what later ones do (26-30 s each of three):
    the cost is per batch, not per row."""
    from ecommerce_analytics_platform_spark.plans import models as M
    from ecommerce_analytics_platform_spark.sources.manifest import ManifestTable
    from ecommerce_analytics_platform_spark.sources.ndjson import (
        enrich_clickstream, enrich_orders, read_orders_raw, write_ndjson_fixture,
    )
    from ecommerce_analytics_platform_spark.sources.schemas import CLICKSTREAM_RAW_SCHEMA
    from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse
    from ecommerce_analytics_platform_spark.streaming.gold import GOLD_TABLES, start_continuous_gold
    from ecommerce_analytics_platform_spark.fixtures.generator import generate_fixture

    spark = ctx.spark
    base = os.path.join(ctx.work, "gold")
    raw, wh_root = os.path.join(base, "raw"), os.path.join(base, "wh")
    gold_root, ckpt = os.path.join(base, "gold"), os.path.join(base, "ckpt")
    events, orders = generate_fixture(seed=ctx.seed, n_sessions=STREAM_DROP_SESSIONS)
    # orders are batch-side: load staging.stg_orders before streaming
    write_ndjson_fixture(orders, os.path.join(base, "orders", "o.json"))
    wh = Warehouse(spark, wh_root)
    wh.overwrite(M.stg_orders(enrich_orders(read_orders_raw(spark, os.path.join(base, "orders")))),
                 "staging.stg_orders")

    def one_batch():
        path = write_ndjson_fixture(events, os.path.join(raw, "drop.json"))
        ctx.raw_input_bytes = os.path.getsize(path)
        q = start_continuous_gold(spark, raw, wh_root, gold_root, ckpt)
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("gold micro-batch did not finish")
        return q.recentProgress

    progress = ctx.op("stream_batch", one_batch)
    if progress:
        ctx.stream_progress.extend(progress)

    # batch truth over the same raw bytes through the batch models
    ev = M.stg_clickstream_events(enrich_clickstream(
        spark.read.schema(CLICKSTREAM_RAW_SCHEMA).json(raw)))
    stg_orders = wh.read("staging.stg_orders")
    fe, fo = M.fact_events(ev), M.fact_orders(stg_orders)
    fs = M.fact_sessions(M.stg_clickstream_sessions(ev), stg_orders)
    foi = M.fact_order_items(M.stg_order_items(stg_orders))
    cal = M.dim_date(fe)
    truth = {
        "metrics_daily_kpis": M.metrics_daily_kpis(cal, fs, fo),
        "metrics_daily_funnel": M.metrics_daily_funnel(fe, fo),
        "metrics_user_lifecycle": M.metrics_user_lifecycle(fs, fo),
        "metrics_product_performance_daily": M.metrics_product_performance_daily(foi, fo, fe),
        "dim_date": cal,
        "dim_users": M.dim_users(fe, fo),
        "dim_products": M.dim_products(foi),
        "dim_session_context": M.dim_session_context(fe),
    }

    def differs(table: str) -> bool:
        got = _canon(ManifestTable(spark, os.path.join(gold_root, table)).read(),
                     drop=GOLD_BUCKET_COLS.get(table, ()))
        return got != _canon(truth[table])

    # the comparisons are many small Spark jobs; run side by side they took
    # 6.6 s here against 9.7 s one after another
    with ThreadPoolExecutor(4) as pool:
        bad = [f"gold {t} differs from the batch models"
               for t, d in zip(GOLD_TABLES, pool.map(differs, GOLD_TABLES)) if d]
    ctx.check("stream_batch", bad)


# ---------------------------------------------------------------------------
# registry queries
# ---------------------------------------------------------------------------

# One query per family, chosen so that the timed pass and the DuckDB
# check fit in well under a minute. Heavier members
# (entity_clusters, cluster_keepers, neardup_pairs, ann_lsh) are left out:
# their DuckDB twins alone take 5-40 s each. The family of a query is the
# module of the first public ``operators.*``/``functions.*`` function it
# calls ("sql" when none); test_perfbench checks this map against it.
REGISTRY_QUERIES = {
    "session_windows": "sql",
    "asof_join": "other_ops",  # operators.asof
    "cosine_topk": "similarity",
    "incremental_dedup": "dedup",
    "edit_distance_join": "fuzzy",
    "bloom_filter": "membership",
    "inverted_index": "corpus",
    "bpe_merges": "tokenize",
    "language_id": "text",
    "image_features": "multimodal",
}


def _canon_cell(v) -> str:
    """check_parity's cell canon, with numpy values (Spark's arrays and
    float32 scalars) first turned into the Python values DuckDB returns."""
    if isinstance(v, (np.generic, np.ndarray)):
        v = v.tolist()
    return canon_cell(v)


def fingerprint(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive digest of a pandas result:
    columns by name, cells canonicalized, rows sorted."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


def _release(spark) -> None:
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def oracle_fingerprints(sf_dir: str, names) -> dict[str, tuple[int, str]]:
    """Run each query's DuckDB twin over the same parquet files."""
    import duckdb
    import pandas as pd

    from ecommerce_analytics_platform_spark.plans.testdata_queries import QUERIES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in names:
            res = con.sql(QUERIES[name][1])
            out[name] = fingerprint(pd.DataFrame(res.fetchall(), columns=list(res.columns)))
        return out
    finally:
        con.close()


def run_registry(ctx, sf_dir: str) -> None:
    """Each query once, as the first execution in the session of that
    query: plan compilation, codegen and the operator's first use are part
    of the time, as they are for a one-off query. A warm second pass would
    not fit the run budget. The fetched results are checked afterwards."""
    from ecommerce_analytics_platform_spark.plans.testdata_queries import QUERIES

    spark = ctx.spark
    got: dict[str, tuple[int, str]] = {}
    for name, family in REGISTRY_QUERIES.items():
        pdf = ctx.op(f"q:{name}", lambda name=name: QUERIES[name][0](spark, sf_dir).toPandas(),
                     family=family)
        if pdf is not None:
            got[name] = fingerprint(pdf)
        _release(spark)

    want = oracle_fingerprints(sf_dir, got)
    for name, fp in got.items():
        if fp != want[name]:
            ctx.check(f"q:{name}", [f"spark {fp[0]} rows, duckdb {want[name][0]} rows, "
                                    "fingerprints differ"])


WORKLOADS = {
    "medallion_registry": medallion_registry,
    "gold_stream": gold_stream,
    "medallion_incremental": medallion_incremental,
}

