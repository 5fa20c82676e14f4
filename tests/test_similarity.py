"""Similarity search: exact brute-force vs BLAS-vectorized parity, and the
LSH-bucketed approximate variant's contract."""

from __future__ import annotations

import pytest

from ecommerce_analytics_platform_spark.operators.similarity import (
    cosine_topk_blas,
    cosine_topk_bruteforce,
    ivf_topk,
    lsh_bucketed_topk,
)

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _key(rows):
    return {(r["qid"], r["rank"]): (r["cid"], round(r["cosine"], 4)) for r in rows}


def test_blas_matches_bruteforce(spark, emb):
    small = emb.limit(40).cache()
    bf = _key(cosine_topk_bruteforce(small, small, "vec_id", "vec_id", "embedding", k=3).collect())
    bl = _key(cosine_topk_blas(small, small, "vec_id", "vec_id", "embedding", k=3).collect())
    assert bf == bl


def test_topk_contract(spark, emb):
    small = emb.limit(30)
    out = cosine_topk_bruteforce(small, small, "vec_id", "vec_id", "embedding", k=3).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["qid"], []).append(r)
        assert r["qid"] != r["cid"]  # self excluded
        assert -1.0001 <= r["cosine"] <= 1.0001
    for q, rows in per_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        cos = [r["cosine"] for r in rows]
        assert cos == sorted(cos, reverse=True)


def test_ivf_recall_and_contract(spark, emb):
    """IVF top-1 must (a) respect the exact path's upper bound and (b)
    recover a solid fraction of true nearest neighbors with n_probe=8 of
    16 lists on 200 vectors."""
    small = emb.limit(200).cache()
    exact = {r["qid"]: r["cid"] for r in
             cosine_topk_bruteforce(small, small, "vec_id", "vec_id", "embedding", k=1).collect()}
    approx = {r["qid"]: r["cid"] for r in
              ivf_topk(small, small, "vec_id", "vec_id", "embedding", k=1,
                       n_lists=16, n_probe=8).collect()}
    assert len(approx) == len(exact)
    recall = sum(approx[q] == c for q, c in exact.items()) / len(exact)
    assert recall >= 0.5, recall
    # determinism: same seed -> identical result
    again = {r["qid"]: r["cid"] for r in
             ivf_topk(small, small, "vec_id", "vec_id", "embedding", k=1,
                      n_lists=16, n_probe=8).collect()}
    assert approx == again


def test_lsh_bucketed_is_subset_quality(spark, emb):
    small = emb.limit(60).cache()
    exact = cosine_topk_bruteforce(small, small, "vec_id", "vec_id", "embedding", k=1).collect()
    approx = lsh_bucketed_topk(small, small, "vec_id", "vec_id", "embedding", k=1, n_planes=4).collect()
    # every approx score must be <= the exact best for that query (it's a subset)
    best = {r["qid"]: r["cosine"] for r in exact}
    assert len(approx) > 0
    for r in approx:
        assert r["cosine"] <= best[r["qid"]] + 1e-9


def test_int8_rerank_matches_exact_topk(spark, emb):
    """Quantized-score + exact-rerank must reproduce the exact BLAS top-k
    nearly everywhere at rerank_factor=4 (int8 rounding can only lose a
    true neighbor when it falls outside the 4k candidate cut)."""
    from ecommerce_analytics_platform_spark.operators.similarity import int8_topk

    small = emb.limit(200).cache()
    exact = {(r["qid"], r["rank"]): r["cid"] for r in
             cosine_topk_blas(small, small, "vec_id", "vec_id", "embedding", k=3).collect()}
    quant = {(r["qid"], r["rank"]): r["cid"] for r in
             int8_topk(small, small, "vec_id", "vec_id", "embedding", k=3,
                       rerank_factor=4).collect()}
    assert set(q for q, _ in quant) == set(q for q, _ in exact)
    agree = sum(quant[key] == cid for key, cid in exact.items()) / len(exact)
    assert agree >= 0.95, agree


def test_sharded_topk_matches_broadcast(spark, emb):
    """Forcing the sharded cogroup path (broadcast_threshold=0) must give
    byte-identical results to the broadcast path — same rounding, same
    (cosine DESC, cid ASC) total order, same self-exclusion."""
    small = emb.limit(120).cache()
    bl = _key(cosine_topk_blas(small, small, "vec_id", "vec_id", "embedding", k=3).collect())
    sh = _key(cosine_topk_blas(small, small, "vec_id", "vec_id", "embedding", k=3,
                               broadcast_threshold=0, shard_rows=16).collect())
    assert bl == sh


def test_sharded_neardup_matches_broadcast(spark, emb):
    from ecommerce_analytics_platform_spark.operators.similarity import cosine_neardup_pairs

    small = emb.limit(150).cache()
    def pairs(**kw):
        return {(r["id_a"], r["id_b"]): round(r["cosine"], 4)
                for r in cosine_neardup_pairs(small, "vec_id", "embedding",
                                              threshold=0.2, **kw).collect()}
    bl = pairs()
    sh = pairs(broadcast_threshold=0, block_rows=32)
    assert len(bl) > 0
    assert bl == sh


def test_sharded_int8_matches_exact(spark, emb):
    """Sharded int8 path: per-shard candidate cut only ADDS candidates vs
    the global cut, so agreement with the exact top-k must stay >= 95%."""
    from ecommerce_analytics_platform_spark.operators.similarity import int8_topk

    small = emb.limit(200).cache()
    exact = {(r["qid"], r["rank"]): r["cid"] for r in
             cosine_topk_blas(small, small, "vec_id", "vec_id", "embedding", k=3).collect()}
    quant = {(r["qid"], r["rank"]): r["cid"] for r in
             int8_topk(small, small, "vec_id", "vec_id", "embedding", k=3,
                       rerank_factor=4, broadcast_threshold=0, shard_rows=64).collect()}
    assert set(q for q, _ in quant) == set(q for q, _ in exact)
    agree = sum(quant.get(key) == cid for key, cid in exact.items()) / len(exact)
    assert agree >= 0.95, agree


def test_tiny_corpus_self_exclusion(spark, emb):
    """Corpus <= k with exclude_self: the masked self row must never be
    emitted (advisor: -inf row previously survived the [:k] cut in
    int8_topk and reappeared with cosine ~1.0)."""
    from ecommerce_analytics_platform_spark.operators.similarity import int8_topk

    tiny = emb.limit(3).cache()
    for fn in (cosine_topk_blas, int8_topk):
        rows = fn(tiny, tiny, "vec_id", "vec_id", "embedding", k=5).collect()
        for r in rows:
            assert r["qid"] != r["cid"], (fn.__name__, r)
        per_q = {}
        for r in rows:
            per_q.setdefault(r["qid"], []).append(r["rank"])
        for q, ranks in per_q.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_lsh_neardup_subset_of_exact(spark, emb):
    """LSH-prefiltered near-dup pairs must be a SUBSET of the exact
    above-threshold pairs with identical scores, and catch a decent
    fraction of them (bucket collision recall)."""
    from ecommerce_analytics_platform_spark.operators.similarity import (
        cosine_neardup_pairs,
        lsh_neardup_pairs,
    )

    small = emb.limit(200).cache()
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in cosine_neardup_pairs(small, "vec_id", "embedding", threshold=0.2).collect()}
    approx = {(r["id_a"], r["id_b"]): r["cosine"]
              for r in lsh_neardup_pairs(small, "vec_id", "embedding",
                                         threshold=0.2, n_planes=4).collect()}
    assert approx, "no LSH pairs found"
    for pair, cos in approx.items():
        assert pair in exact and exact[pair] == cos
    assert len(approx) / len(exact) >= 0.1  # collision recall at 4 planes


def test_semantic_dedup_invariants_and_planted_dups(spark, emb):
    """SemDeDup: planted near-identical copies are dropped against the
    lowest-id original; every dropped row's keeper is kept, same cluster,
    cosine >= tau; output covers every input exactly once; deterministic."""
    import numpy as np

    from ecommerce_analytics_platform_spark.operators.similarity import semantic_dedup

    base = emb.limit(120).collect()
    rows = [(r["vec_id"], list(r["embedding"])) for r in base]
    # plant: two exact copies and one epsilon-perturbed copy of vec 0
    v0 = np.array(rows[0][1], dtype=np.float64)
    rows.append((900001, v0.tolist()))
    rows.append((900002, v0.tolist()))
    rows.append((900003, (v0 + 1e-6 * np.ones_like(v0)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    res = semantic_dedup(df, "vec_id", "embedding", tau=0.95, n_lists=4)
    out = {r["id"]: r for r in res.collect()}
    assert set(out) == {r[0] for r in rows}  # row cover
    for pid in (900001, 900002, 900003):
        assert out[pid]["kept"] is False, pid
        assert out[pid]["dup_of"] == rows[0][0]  # lowest-id original survives
    assert out[rows[0][0]]["kept"] is True
    # keeper invariants over ALL rows
    for r in out.values():
        if r["kept"]:
            assert r["dup_of"] is None
        else:
            k = out[r["dup_of"]]
            assert k["kept"] is True and k["list_id"] == r["list_id"]
    # determinism
    again = {r["id"]: r for r in semantic_dedup(df, "vec_id", "embedding", tau=0.95, n_lists=4).collect()}
    assert {i: (r["kept"], r["dup_of"], r["list_id"]) for i, r in out.items()} == {
        i: (r["kept"], r["dup_of"], r["list_id"]) for i, r in again.items()
    }


def test_semantic_dedup_overflow_guard(spark, emb):
    """Clusters above max_cluster skip the quadratic pass: all rows kept
    and flagged instead of scored."""
    from ecommerce_analytics_platform_spark.operators.similarity import semantic_dedup

    small = emb.limit(50).cache()
    res = semantic_dedup(small, "vec_id", "embedding", tau=0.9, n_lists=1, max_cluster=10)
    rows = res.collect()
    assert len(rows) == 50
    assert all(r["kept"] and r["overflow"] and r["dup_of"] is None for r in rows)


def test_random_projection_preserves_distances_on_average(spark):
    """JL property: squared-distance ratios concentrate around 1."""
    import numpy as np

    from ecommerce_analytics_platform_spark.operators.similarity import random_projection

    rng = np.random.RandomState(5)
    X = rng.randn(40, 64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    out = random_projection(df, "vec_id", "embedding", out_dim=16, seed=19)
    rows = out.collect()
    Y = np.zeros((40, 16))
    for r in rows:
        Y[r["vec_id"], r["dim_idx"]] = r["value"]
    ratios = []
    for i in range(0, 40, 3):
        for j in range(i + 1, 40, 7):
            d_hi = np.sum((X[i] - X[j]) ** 2)
            d_lo = np.sum((Y[i] - Y[j]) ** 2)
            ratios.append(d_lo / d_hi)
    mean = float(np.mean(ratios))
    assert 0.7 < mean < 1.3  # unbiased in expectation; k=16 keeps variance modest


def test_random_projection_is_map_side(spark):
    from ecommerce_analytics_platform_spark.operators.similarity import random_projection

    df = spark.createDataFrame(
        [(1, [0.5] * 64), (2, [1.0] * 64)], "vec_id long, embedding array<double>"
    )
    out = random_projection(df, "vec_id", "embedding", out_dim=4, seed=19)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pq_recall_with_rerank(spark, emb):
    """PQ codes + ADC + exact rerank: with a generous rerank factor the
    true top-3 should survive the candidate cut for most queries (PQ at
    16 codes/subspace is the coarsest tier — the contract is recall, not
    agreement)."""
    from ecommerce_analytics_platform_spark.operators.similarity import pq_topk

    small = emb.limit(200).cache()
    exact = {(r["qid"], r["cid"]) for r in
             cosine_topk_blas(small, small, "vec_id", "vec_id", "embedding", k=3).collect()}
    pq = {(r["qid"], r["cid"]) for r in
          pq_topk(small, small, "vec_id", "vec_id", "embedding", k=3,
                  k_codes=32, rerank_factor=16).collect()}
    recall = len(pq & exact) / len(exact)
    assert recall >= 0.70, recall


def test_pq_sharded_matches_broadcast(spark, emb):
    """The sharded PQ path encodes per shard from the SAME global
    codebooks, so shard boundaries must not change any emitted pair's
    reranked (exact) score; the per-shard candidate cut can only ADD
    candidates, so sharded recall >= broadcast recall on the same data."""
    from ecommerce_analytics_platform_spark.operators.similarity import pq_topk

    small = emb.limit(120).cache()
    bl = {(r["qid"], r["cid"]): r["cosine"] for r in
          pq_topk(small, small, "vec_id", "vec_id", "embedding", k=3,
                  rerank_factor=8).collect()}
    sh = {(r["qid"], r["cid"]): r["cosine"] for r in
          pq_topk(small, small, "vec_id", "vec_id", "embedding", k=3,
                  rerank_factor=8, broadcast_threshold=0, shard_rows=32).collect()}
    # shared pairs carry identical exact-reranked scores
    for key in bl.keys() & sh.keys():
        assert bl[key] == sh[key], key
    # both paths emit k rows per query
    assert len(sh) == len(bl)


def test_pq_codebooks_deterministic(spark, emb):
    from ecommerce_analytics_platform_spark.operators.similarity import (
        pq_train_codebooks,
    )

    small = emb.limit(150)
    b1 = pq_train_codebooks(small, "vec_id", "embedding")
    b2 = pq_train_codebooks(small.repartition(7), "vec_id", "embedding")
    import numpy as np

    assert np.array_equal(b1, b2)  # id-ordered sample ⇒ partitioning-invariant


def test_topk_ties_beyond_candidate_buffer(spark):
    """More rows tie at the k-th score than any fixed candidate margin:
    every corpus vector is identical, so all cosines round to 1.0 and the
    (cosine DESC, cid ASC) order alone decides — the lowest ids other
    than the query itself. Broadcast, sharded and brute-force paths must
    all return exactly those."""
    n = 300
    corpus = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()
    queries = corpus.filter("vec_id IN (0, 1, 200)")
    want = {
        (q, rank): (c, 1.0)
        for q in (0, 1, 200)
        for rank, c in enumerate([i for i in range(n) if i != q][:3], start=1)
    }
    bl = cosine_topk_blas(queries, corpus, "vec_id", "vec_id", "embedding", k=3)
    sh = cosine_topk_blas(queries, corpus, "vec_id", "vec_id", "embedding", k=3,
                          broadcast_threshold=0, shard_rows=64)
    bf = cosine_topk_bruteforce(queries, corpus, "vec_id", "vec_id", "embedding", k=3)
    assert _key(bl.collect()) == want
    assert _key(sh.collect()) == want
    assert _key(bf.collect()) == want


@pytest.mark.parametrize(
    "x,digits",
    [(0.125, 2), (-0.125, 2), (1.0005, 3), (0.00005, 4), (0.49999999999999994, 0)],
)
def test_round_matches_duckdb_at_boundaries(x, digits):
    """The kernels' one rounding rule is DuckDB's ``ROUND(double, d)``:
    half away from zero on the scaled value (``np.round`` gives 0.12 for
    0.125 at 2 digits; DuckDB gives 0.13)."""
    import duckdb
    import numpy as np

    from ecommerce_analytics_platform_spark.operators.similarity import _round

    want = duckdb.sql(f"SELECT round({x!r}::DOUBLE, {digits})").fetchone()[0]
    assert _round(np.array([x]), digits)[0] == want


def test_round_matches_duckdb_on_seeded_grid():
    import duckdb
    import numpy as np

    from ecommerce_analytics_platform_spark.operators.similarity import _round

    rng = np.random.default_rng(20231)
    x = np.round(rng.uniform(-1.0, 1.0, 4000), 5)  # many exact halves at 4 digits
    for digits in (2, 3, 4):
        got = duckdb.sql(
            f"SELECT round(x, {digits}) AS r FROM (SELECT unnest($x)::DOUBLE AS x)",
            params={"x": x.tolist()},
        ).fetchnumpy()["r"]
        assert np.array_equal(_round(x, digits), got), digits


def test_ivf_zero_vector_query_gets_k_rows(spark, emb):
    """A zero query scores cosine 0 against everything (the guarded
    normalization every path shares) — k finite rows, the lowest probed
    ids, never NaN scores that drop the query."""
    import math

    corpus = emb.select("vec_id", "embedding").limit(100).cache()
    dim = len(corpus.first()["embedding"])
    zero = spark.createDataFrame(
        [(10**9, [0.0] * dim)], "vec_id long, embedding array<float>"
    )
    rows = ivf_topk(zero, corpus, "vec_id", "vec_id", "embedding", k=3,
                    n_lists=4, n_probe=4).collect()
    assert len(rows) == 3
    assert all(math.isfinite(r["cosine"]) and r["cosine"] == 0.0 for r in rows)
    lowest = sorted(r["vec_id"] for r in corpus.collect())[:3]
    assert sorted(r["cid"] for r in rows) == lowest
    exact = cosine_topk_blas(zero, corpus, "vec_id", "vec_id", "embedding", k=3)
    assert _key(rows) == _key(exact.collect())


def test_one_rounding_and_one_sort_site():
    """Structural guard: the similarity family scores through one rounding
    kernel and one top-k sort — copies of ``np.round`` / ``np.lexsort``
    must not creep back into the operators."""
    import ast
    import os

    import ecommerce_analytics_platform_spark as pkg

    root = os.path.dirname(pkg.__file__)
    counts = {"round": 0, "lexsort": 0}
    for rel in ("operators/similarity.py", "streaming/annindex.py"):
        with open(os.path.join(root, rel)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "np"
                and node.func.attr in counts
            ):
                counts[node.func.attr] += 1
    assert counts == {"round": 1, "lexsort": 1}


def test_topk_kernels_match_per_row_sort():
    """The vectorized top-k and rerank kernels against a plain per-row
    sort under (score DESC, cid ASC): coarse scores force ties at the
    cut, and masked self pairs and NaN scores are never emitted."""
    import numpy as np

    from ecommerce_analytics_platform_spark.operators.similarity import (
        _rerank_topk,
        _round,
        _safe_unit_rows,
        _topk,
    )

    def ref(S, qids, cids, k, exclude_self):
        out = []
        for i, q in enumerate(qids):
            row = [
                (-s, c) for s, c in zip(S[i], cids[i] if cids.ndim == 2 else cids)
                if np.isfinite(s) and not (exclude_self and c == q)
            ]
            out += [(q, c, -s, r) for r, (s, c) in enumerate(sorted(row)[:k], 1)]
        return out

    rng = np.random.default_rng(11)
    for trial in range(60):
        n, m, k = rng.integers(1, 20), rng.integers(1, 50), int(rng.integers(1, 8))
        S = _round(rng.uniform(-1, 1, (n, m)), 1)
        S[rng.random(S.shape) < 0.05] = np.nan
        cids = rng.permutation(80)[:m]
        qids = rng.choice(cids, n)
        got = list(zip(*[a.tolist() for a in _topk(S, qids, cids, k, trial % 2 == 0)]))
        assert got == ref(S, qids, cids, k, trial % 2 == 0), trial

        # rerank: distinct approximate scores make the candidate set exact
        C = _safe_unit_rows(rng.normal(size=(m, 8)))
        Q = _safe_unit_rows(rng.normal(size=(n, 8)))
        approx = Q @ C.T + rng.normal(scale=0.1, size=(n, m))
        n_cand = int(rng.integers(1, m + 1))
        want = []
        for i, q in enumerate(qids):
            a = np.where(cids == q, -np.inf, approx[i])
            cand = np.argsort(-a, kind="stable")[:n_cand]
            exact = _round(C[cand] @ Q[i], 3)[None, :]
            want += ref(exact, qids[i : i + 1], cids[cand], k, True)
        got = _rerank_topk(approx, Q, C, qids, cids, k, n_cand, 3, True)
        assert list(zip(*[a.tolist() for a in got])) == want, trial
