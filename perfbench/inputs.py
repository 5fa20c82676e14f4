"""Seeded benchmark inputs.

Everything a workload reads is made here from ``--seed`` and written under
the run's work directory; the program under test only ever sees the
written files.

- Clickstream/orders raw NDJSON drops come from the program's own fixture
  generator (``fixtures.generator.generate_fixture``: funnel sessions with
  8% duplicates, 15% late events and 2% unparseable timestamps).
- The registry tables are a synthetic star schema with the same table
  names, column names and types as the registry's testdata
  (region/nation/customer/supplier/part/orders/lineitem plus events,
  documents and embeddings), written as one parquet file each.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ecommerce_analytics_platform_spark.fixtures.generator import generate_fixture
from ecommerce_analytics_platform_spark.sources.ndjson import write_ndjson_fixture

CLICKSTREAM_FILES = 8


def write_drop(raw_root: str, seed: int, n_sessions: int, tag: str = "d") -> tuple[list, list]:
    """Write one raw drop: the clickstream split round-robin over
    ``CLICKSTREAM_FILES`` files under ``raw_root/clickstream`` and the
    orders as one file under ``raw_root/orders``. Returns the generated
    (events, orders) so checks can compute expected counts."""
    events, orders = generate_fixture(seed=seed, n_sessions=n_sessions)
    for i in range(CLICKSTREAM_FILES):
        write_ndjson_fixture(
            events[i::CLICKSTREAM_FILES],
            os.path.join(raw_root, "clickstream", f"{tag}{seed}-{i}.json"),
        )
    write_ndjson_fixture(orders, os.path.join(raw_root, "orders", f"{tag}{seed}.json"))
    return events, orders


def parsable_event_ids(events: list[dict]) -> set[str]:
    """The ids silver must hold: unparseable event_time rows are dropped,
    duplicates (exact re-emissions) collapse to one id."""
    return {e["event_id"] for e in events if e["event_time"] != "not-a-timestamp"}


# ---------------------------------------------------------------------------
# Registry tables
# ---------------------------------------------------------------------------

_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.39, 0.16, 0.16, 0.15, 0.14]
_SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
_PADJ = ["cold", "small", "large", "blue", "old", "new", "hot"]
_PNOUN = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


def _ts_us(rng: np.random.Generator, n: int, lo: str, hi: str, sort: bool = False,
           day_only: bool = False) -> pa.Array:
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    v = rng.integers(a, b, n)
    if day_only:
        day = 86_400_000_000
        v = v - v % day
    if sort:
        v = np.sort(v)
    return pa.array(v, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_registry_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten registry tables under ``out_dir`` (``<name>.parquet``):
    150 customers / 1,500 orders / ~6,000 lineitems / 1,000 events /
    500 documents / 500 embeddings. Returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_ev, n_doc, n_emb = 1500, 1000, 500, 500
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PADJ, n_part), rng.choice(_PNOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(rng, n_ord, "1995-01-01", "2001-08-01", day_only=True),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okeys = np.repeat(np.arange(n_ord), lines)
    linenos = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    pkeys = rng.integers(0, n_part, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(pkeys, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenos, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkeys] * rng.uniform(0.5, 3.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts_us(rng, n_li, "1995-01-02", "2001-12-01", day_only=True),
    })
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts_us(rng, n_ev, "2024-01-01", "2024-01-31", sort=True),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents: random word strings; ~6% are near-duplicates of an earlier
    # document with one or more " dup" suffixes (dedup/near-dup material)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.06:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 4)))
        else:
            n_words = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(_WORDS, n_words)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # embeddings: 64-d float32 unit vectors drawn around 10 label centroids
    dim, n_lab = 64, 10
    centers = rng.normal(0.0, 1.0, (n_lab, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_lab, n_emb)
    vecs = 0.15 * centers[labels] + rng.normal(0.0, 0.125, (n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
