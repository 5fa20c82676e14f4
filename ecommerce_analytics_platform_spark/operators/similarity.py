"""Similarity search over embedding columns (``array<float>``).

Beyond the reference surface (BASELINE.json north star): nearest-neighbor
search, near-duplicate detection and dimensionality reduction for
training-data pipelines. Ten operators:

- exact top-k: :func:`cosine_topk_bruteforce` (the pure-JVM reference —
  cross join + ``aggregate``/``zip_with`` dot product, window rank) and
  :func:`cosine_topk_blas` (BLAS matmuls over a broadcast or hash-sharded
  corpus);
- approximate top-k: :func:`lsh_bucketed_topk` (random-hyperplane
  buckets), :func:`ivf_topk` (k-means inverted lists), :func:`int8_topk`
  and :func:`pq_topk` (compressed approximate pass + exact rerank);
- threshold pairs: :func:`cosine_neardup_pairs` (exact) and
  :func:`lsh_neardup_pairs` (bucket-prefiltered);
- :func:`semantic_dedup` (SemDeDup cluster dedup) and
  :func:`random_projection` (Johnson-Lindenstrauss projection).

One contract everywhere: vectors are L2-normalized (cosine = dot of unit
vectors; a zero vector stays zero and scores 0), the score is rounded to
``round_digits``, and neighbors rank by (score DESC, id ASC) — a total
order, so every top-k is unique and per-partition top-k lists reduce
exactly to the global one.

Every numpy path scores through the same private kernels:

- :func:`_round` — the only rounding site: half away from zero on the
  scaled value (C ``round``), which is what DuckDB's ``ROUND(double, d)``
  does. ``np.round`` rounds half to even and disagrees on exact halves.
- :func:`_topk` — exact, tie-safe per-row top-k under (score DESC, id ASC).
- :func:`_rerank_topk` — approximate-score candidate cut + exact rerank.
- :func:`_pairs` — above-threshold pairs of a score block.
- :func:`_assign_lists` — nearest-centroid list assignment (IVF,
  SemDeDup, the streaming ANN index).
- :func:`_broadcast_score` / :func:`_dense_topk` — the broadcast-or-shard
  driver; :func:`_cogroup_topk` + :func:`_window_topk` — per-group BLAS
  scoring and the global rank reduce.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_TOPK_SCHEMA = "qid long, cid long, cosine double"


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _l2norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def normalize(df: DataFrame, vec_col: str, out_col: str = "__nvec") -> DataFrame:
    # the norm is materialized behind a Generate BEFORE the divide (r15):
    # inlined into the transform's lambda, the l2 fold is re-evaluated
    # once PER ELEMENT (interpreted HOFs hoist nothing) — O(dim²)
    # arithmetic per vector, measured as the dominant stage CPU of the
    # LSH embedding queries
    from ecommerce_analytics_platform_spark.functions.text import (
        with_materialized,
    )

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = with_materialized(df, _l2norm(v), "__l2n")
    return out.withColumn(
        out_col, F.transform(v, lambda x: x / F.col("__l2n"))
    ).drop("__l2n")


# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------


def _matrix(vectors) -> np.ndarray:
    """Stack array cells (an Arrow list column or collected lists) into a
    float64 row matrix."""
    return np.array(list(vectors), dtype=np.float64)


def _safe_unit_rows(M):
    """L2-normalize matrix rows; zero vectors stay zero instead of
    becoming NaN (guarded divide — a zero-norm row scores 0 with everything)."""
    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return M / n


def _round(S, digits: int):
    """Round half away from zero on the scaled value — C ``round``, which
    is what DuckDB's ``ROUND(double, d)`` computes — so a score exactly on
    a half rounds like the oracle. ``np.round`` alone rounds half to even;
    the exact halves it moved toward zero are moved away again (``y - r``
    is exact, so no other value changes — unlike ``floor(|y| + 0.5)``,
    which rounds 0.49999999999999994 up to 1)."""
    y = S * 10.0**digits
    r = np.round(y)
    d = y - r
    half = np.abs(d, out=d) == 0.5
    r[half] = y[half] + np.copysign(0.5, y[half])
    r /= 10.0**digits
    return r


def _topk(S, qids, cids, k: int, exclude_self: bool):
    """Exact per-row top-k of a rounded score block under (score DESC,
    cid ASC). ``cids`` labels the columns: one id row shared by every
    row, or a per-row id block. Every score tied with a row's k-th best
    stays a candidate until the final sort, so a tie at the cut never
    picks arbitrary ids. Returns (qid, cid, score, rank) arrays; masked
    self pairs and non-finite scores are never emitted."""
    cids = np.broadcast_to(cids, S.shape)
    if exclude_self:
        S = np.where(cids == qids[:, None], -np.inf, S)
    kk = min(k, S.shape[1])
    kth = -np.partition(-S, kk - 1, axis=1)[:, kk - 1]  # NaN sorts last
    rows, cols = np.nonzero(~(S < kth[:, None]))  # a NaN k-th keeps the row
    s, c = S[rows, cols], cids[rows, cols]
    order = np.lexsort((c, -s, rows))
    rows, s, c = rows[order], s[order], c[order]
    rank = np.arange(len(rows)) - np.searchsorted(rows, rows) + 1
    keep = (rank <= kk) & np.isfinite(s)
    return qids[rows[keep]], c[keep], s[keep], rank[keep]


def _rerank_topk(S_approx, Q, C, qids, cids, k, n_cand, digits, exclude_self):
    """Approximate-score candidate cut + exact rerank: each query keeps its
    ``n_cand`` best approximate scores (self masked first), the survivors
    are rescored against the fp64 unit rows ``C`` and ranked by
    :func:`_topk` — exact whenever the true top-k survives the cut."""
    if exclude_self:
        S_approx = np.where(cids[None, :] == qids[:, None], -np.inf, S_approx)
    n_cand = min(len(cids), n_cand)
    cand = np.argpartition(-S_approx, n_cand - 1, axis=1)[:, :n_cand]
    exact = (C[cand] @ Q[:, :, None])[:, :, 0]
    return _topk(_round(exact, digits), qids, cids[cand], k, exclude_self)


def _pairs(S, ida, idb, threshold: float, upper: bool = True):
    """(id_a, id_b, cosine) rows for the cells of a rounded score block at
    or above ``threshold``. ``upper`` keeps only row id < column id (a
    block scored against itself or the whole corpus: each unordered pair
    once, no diagonal); otherwise — disjoint blocks, where every pair
    appears exactly once — all hits are emitted as (min id, max id)."""
    import pandas as pd

    hit = S >= threshold
    if upper:
        hit &= ida[:, None] < idb[None, :]
    ii, jj = np.nonzero(hit)
    a, b = ida[ii], idb[jj]
    if not upper:
        a, b = np.minimum(a, b), np.maximum(a, b)
    return pd.DataFrame({"id_a": a, "id_b": b, "cosine": S[ii, jj]})


def _exact_block(k: int, digits: int, exclude_self: bool = True):
    """Block scorer for unit rows: rounded ``Q @ C.T`` into :func:`_topk`
    (extra arguments — an operator payload — are ignored)."""
    return lambda Q, qids, C, cids, *_: _topk(
        _round(Q @ C.T, digits), qids, cids, k, exclude_self
    )


# ---------------------------------------------------------------------------
# Spark drivers around the kernels
# ---------------------------------------------------------------------------


def _window_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global rank reduce: ``row_number`` over (cosine DESC, cid ASC) per
    qid, top ``k`` kept."""
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "cosine", "rank")
    )


def _cogroup_topk(
    q: DataFrame, c: DataFrame, key: str, k: int, score_block, schema: str = _TOPK_SCHEMA
) -> DataFrame:
    """Score each ``key`` group of queries (qid, qvec) against the same
    group of corpus rows (cid, cvec) as ONE BLAS block inside a cogroup
    ``applyInPandas``, then reduce with :func:`_window_topk`. Per-group
    top-k under the total order contains the global top-k over the groups
    a query meets, so the reduce is exact."""

    def fn(_key, qpdf, cpdf):
        import pandas as pd

        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(columns=["qid", "cid", "cosine"])
        qid, cid, s, _ = score_block(
            _matrix(qpdf["qvec"]), qpdf["qid"].to_numpy(),
            _matrix(cpdf["cvec"]), cpdf["cid"].to_numpy(),
        )
        return pd.DataFrame({"qid": qid, "cid": cid, "cosine": s})

    scored = q.groupBy(key).cogroup(c.groupBy(key)).applyInPandas(fn, schema)
    return _window_topk(scored, k)


def _broadcast_score(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    encode,
    score,
    schema: str,
) -> DataFrame:
    """Small-corpus strategy: collect the corpus as unit rows, broadcast
    (cids, C, ``encode(C)``) and run ``score(Q, qids, C, cids, payload)``
    — one BLAS matmul, returning a pandas frame — on every Arrow batch of
    unit query rows inside ``mapInPandas`` (one BLAS call instead of 25M
    interpreted array folds; 30 s → ~1 s at 5k×5k)."""
    rows = corpus.select(corpus_id, vec_col).collect()
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    C = _safe_unit_rows(_matrix(r[1] for r in rows))
    sc = queries.sparkSession.sparkContext
    bc = sc.broadcast((cids, C, encode(C)))

    def fn(batches):
        b_cids, b_C, payload = bc.value
        for pdf in batches:
            Q = _safe_unit_rows(_matrix(pdf["__vec"]))
            yield score(Q, pdf["__qid"].to_numpy(), b_C, b_cids, payload)

    prepared = queries.select(
        F.col(query_id).alias("__qid"), F.col(vec_col).alias("__vec")
    ).repartition(sc.defaultParallelism)
    return prepared.mapInPandas(fn, schema)


def _dense_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int,
    broadcast_threshold: int,
    shard_rows: int,
    score,
    encode=lambda C: None,
) -> DataFrame:
    """Broadcast-or-shard driver of the dense top-k operators. Each
    operator supplies ``encode(C)`` (its corpus payload, built from unit
    rows) and ``score(Q, qids, C, cids, payload)`` (:func:`_topk` arrays).

    - **small corpus** (≤ ``broadcast_threshold`` rows, an explicit guard
      — at 64-d fp64 the default 100k rows is ~50 MB):
      :func:`_broadcast_score`; ranks are final per query.
    - **large corpus**: NO driver materialization — the corpus is hashed
      into ``ceil(n/shard_rows)`` shards, queries are replicated to every
      shard via one ``explode(sequence(...))`` (the block-nested-loop row
      replication — |Q|·n_shards rows, unavoidable for exact scoring) and
      :func:`_cogroup_topk` scores each (query batch × shard) and reduces.
      The payload is built per shard from per-vector quantities, so shard
      boundaries cannot change any score. Driver memory O(1); per-task
      memory O(shard_rows·dim + |Q|·dim).
    """
    n_corpus = corpus.count()
    if n_corpus <= broadcast_threshold:
        def score_frame(*args):
            import pandas as pd

            cols = ("qid", "cid", "cosine", "rank")
            return pd.DataFrame(dict(zip(cols, score(*args))))

        return _broadcast_score(
            queries, corpus, query_id, corpus_id, vec_col, encode, score_frame,
            _TOPK_SCHEMA + ", rank int",
        )

    n_shards = max(1, -(-n_corpus // shard_rows))
    c = corpus.select(
        F.pmod(F.hash(F.col(corpus_id)), F.lit(n_shards)).alias("shard"),
        F.col(corpus_id).alias("cid"),
        F.col(vec_col).alias("cvec"),
    )
    q = queries.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1))).alias("shard"),
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qvec"),
    )

    def score_shard(Q, qids, C, cids):
        C = _safe_unit_rows(C)
        return score(_safe_unit_rows(Q), qids, C, cids, encode(C))

    return _cogroup_topk(q, c, "shard", k, score_shard)


def _assign_lists(
    df: DataFrame, id_col: str, vec_col: str, centroids, n_probe: int
) -> DataFrame:
    """List-assign kernel: unit-normalize every vector (zero vectors stay
    zero) and emit one ``(__id, list_id, __nvec)`` row for each of its
    ``n_probe`` nearest centroids (ties to the lower list id) — top-1
    for indexing, top-n_probe fan-out for queries."""
    C = np.asarray(centroids, dtype=np.float64)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _safe_unit_rows(_matrix(pdf["__vec"]))
            top = np.argsort(-(V @ C.T), axis=1, kind="stable")[:, :n_probe]
            rows = np.repeat(np.arange(len(V)), top.shape[1])
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy()[rows],
                    "list_id": top.ravel().astype(np.int32),
                    "__nvec": list(V[rows]),
                }
            )

    return df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(fn, "__id long, list_id int, __nvec array<double>")


def _unit_sample(corpus: DataFrame, corpus_id: str, vec_col: str, n: int):
    """Driver-side training sample: the first ``n`` vectors in id order
    (stable across partitionings) as unit rows."""
    rows = corpus.select(vec_col).orderBy(F.col(corpus_id)).limit(n).collect()
    return _safe_unit_rows(_matrix(r[0] for r in rows))


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Physical plan: corpus is broadcast when small (AQE decides); the dot
    product runs as codegen'd array ops. Score rounded for cross-engine
    comparability; ties broken by corpus id for determinism.
    """
    q = normalize(queries, vec_col, "__qv").select(F.col(query_id).alias("qid"), "__qv")
    c = normalize(corpus, vec_col, "__cv").select(F.col(corpus_id).alias("cid"), "__cv")
    scored = (
        q.crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", F.round(_dot(F.col("__qv"), F.col("__cv")), round_digits).alias("cosine"))
    )
    return _window_topk(scored, k)


def cosine_topk_blas(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 4,
    exclude_self: bool = True,
    broadcast_threshold: int = 100_000,
    shard_rows: int = 8192,
) -> DataFrame:
    """Exact top-k cosine neighbors via blocked BLAS matmuls.

    Same contract as :func:`cosine_topk_bruteforce` (score rounded to
    ``round_digits``, rank by cosine DESC then corpus id ASC, top ``k``).
    :func:`_dense_topk` picks the strategy: a broadcast corpus matrix
    scored per Arrow batch of queries up to ``broadcast_threshold`` corpus
    rows, hash shards of ``shard_rows`` rows above it (corpus size stops
    bounding driver memory). Both score with :func:`_topk`.
    """
    return _dense_topk(
        queries, corpus, query_id, corpus_id, vec_col, k,
        broadcast_threshold, shard_rows, _exact_block(k, round_digits, exclude_self),
    )


def _train_centroids(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    n_lists: int,
    kmeans_iters: int,
    seed: int,
):
    """Deterministic spherical k-means on a seeded driver-side sample
    (id-ordered limit ⇒ stable across partitionings; centroid count × dim
    floats — tiny). Shared coarse quantizer for IVF search and semantic
    dedup."""
    sample = _unit_sample(corpus, corpus_id, vec_col, max(n_lists * 32, 512))
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), n_lists, replace=False)]
    for _ in range(kmeans_iters):
        assign = np.argmax(sample @ centroids.T, axis=1)
        for c in range(n_lists):
            members = sample[assign == c]
            if len(members):
                v = members.mean(axis=0)
                centroids[c] = v / np.linalg.norm(v)
    return centroids


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 5,
    seed: int = 42,
    round_digits: int = 4,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization.

    Train: deterministic k-means on a seeded driver-side sample (centroid
    count × dim floats — tiny). Index: every corpus vector assigned to its
    nearest centroid (one BLAS pass, :func:`_assign_lists`). Search: each
    query scores only the vectors in its ``n_probe`` nearest lists, then
    exact cosine re-rank with the same (cosine DESC, id ASC) contract as
    the exact path.

    Scale shape: the corpus partition-by-list IS the IVF index — at
    billions of vectors, persist ``assigned`` partitioned by ``list_id``
    and the probe cogroup partition-prunes. Recall tuning = n_probe/n_lists.

    Scoring runs as ONE BLAS matmul per (list × cogroup batch) inside
    :func:`_cogroup_topk` — never as a row-level pair join (an interpreted
    ``aggregate`` fold per candidate pair was measured 25× slower at
    2k×2k×64d).
    """
    centroids = _train_centroids(
        corpus, corpus_id, vec_col, n_lists, kmeans_iters, seed
    )
    probes = _assign_lists(queries, query_id, vec_col, centroids, n_probe)
    assigned = _assign_lists(corpus, corpus_id, vec_col, centroids, 1)
    return _cogroup_topk(
        probes.withColumnsRenamed({"__id": "qid", "__nvec": "qvec"}),
        assigned.withColumnsRenamed({"__id": "cid", "__nvec": "cvec"}),
        "list_id", k, _exact_block(k, round_digits),
    )


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.35,
    round_digits: int = 4,
    broadcast_threshold: int = 100_000,
    block_rows: int = 8192,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with
    round(cosine, round_digits) >= threshold.

    - **small corpus** (≤ ``broadcast_threshold`` rows):
      :func:`_broadcast_score` like :func:`cosine_topk_blas` — one matmul
      per Arrow batch, emit only above-threshold pairs, so the output (not
      the O(n²) score matrix) is what hits the network.
    - **large corpus**: block-pair grouping, no driver materialization.
      Rows are hashed into B = ceil(n/block_rows) blocks; each row is
      replicated to the B groups keyed (min(b,o), max(b,o)) — every
      unordered block pair (and each diagonal block) is scored by exactly
      one ``applyInPandas`` task as a single BLAS matmul, emitting pairs
      with id_a < id_b (each unordered id pair appears in exactly one
      group, so no dedup pass is needed). Per-task memory is
      O(2·block_rows·dim); shuffle is n·B rows — the inherent cost of
      EXACT all-pairs. At 10⁹+ vectors use the approximate prefilters
      (:func:`lsh_bucketed_topk` buckets / MinHash-LSH) and reserve this
      operator for in-bucket verification.
    """
    n = df.count()
    if n <= broadcast_threshold:
        return _broadcast_score(
            df, df, id_col, id_col, vec_col, lambda C: None,
            lambda Q, qids, C, cids, _: _pairs(
                _round(Q @ C.T, round_digits), qids, cids, threshold
            ),
            "id_a long, id_b long, cosine double",
        )

    n_blocks = max(1, -(-n // block_rows))
    grouped = df.select(
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    ).select(
        F.least("blk", "other").alias("glo"),
        F.greatest("blk", "other").alias("ghi"),
        "blk",
        "__id",
        "__vec",
    )

    def score_pair(key, pdf):
        import pandas as pd

        glo, ghi = key
        A, B = pdf[pdf["blk"] == glo], pdf[pdf["blk"] == ghi]
        if len(A) == 0 or len(B) == 0:
            return pd.DataFrame(columns=["id_a", "id_b", "cosine"])
        MA = _safe_unit_rows(_matrix(A["__vec"]))
        MB = _safe_unit_rows(_matrix(B["__vec"]))
        S = _round(MA @ MB.T, round_digits)
        return _pairs(
            S, A["__id"].to_numpy(), B["__id"].to_numpy(), threshold, upper=glo == ghi
        )

    return grouped.groupBy("glo", "ghi").applyInPandas(
        score_pair, "id_a long, id_b long, cosine double"
    )


def hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic random hyperplanes — tiny (n_planes × dim floats),
    embedded as literals so signature scoring is broadcast by construction.
    Shared by the Spark operators AND the DuckDB oracle builders (same
    seed → bit-identical plane literals on both sides)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def _plane_signature(planes: list[list[float]]):
    def signature(v: Column) -> Column:
        sig = F.lit(0).cast("long")
        for i, p in enumerate(planes):
            lit = F.array(*[F.lit(x) for x in p])
            sig = sig + F.when(_dot(v, lit) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        return sig

    return signature


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    seed: int = 7,
    round_digits: int = 4,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH signature → join within
    bucket → exact cosine re-rank inside the bucket.

    Hyperplanes are generated deterministically from ``seed`` on the driver
    (tiny: n_planes × dim floats) and embedded as literals — broadcast by
    construction, no shuffle to score signatures.
    """
    from ecommerce_analytics_platform_spark.session import fan_out

    dim = len(corpus.select(vec_col).first()[0])
    signature = _plane_signature(hyperplanes(dim, n_planes, seed))
    qid_t = queries.schema[query_id].dataType.simpleString()
    cid_t = corpus.schema[corpus_id].dataType.simpleString()
    # signature scoring (n_planes interpreted dot products per vector) is the
    # CPU-heavy stage — spread it across cores before computing
    queries = fan_out(queries.select(query_id, vec_col))
    corpus = fan_out(corpus.select(corpus_id, vec_col))

    q = normalize(queries, vec_col, "qvec").select(
        F.col(query_id).alias("qid"), "qvec", signature(F.col("qvec")).alias("bucket")
    )
    c = normalize(corpus, vec_col, "cvec").select(
        F.col(corpus_id).alias("cid"), "cvec", signature(F.col("cvec")).alias("bucket")
    )
    # In-bucket scoring as one numpy matmul per bucket cogroup (r15,
    # guide §4.2): the bucket equi-join + interpreted zip_with/aggregate
    # dot per candidate pair was ~10 s of summed stage CPU at sf0.1.
    # Bucket assignment and normalization stay JVM-side and bit-identical
    # to the oracle; only the dot's accumulation order changes (BLAS vs
    # left fold) — absorbed by the rounding. A query scores only within
    # its own bucket, so the per-bucket top-k is the global top-k.
    return _cogroup_topk(
        q, c, "bucket", k, _exact_block(k, round_digits),
        f"qid {qid_t}, cid {cid_t}, cosine double",
    )


def int8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    rerank_factor: int = 4,
    round_digits: int = 4,
    exclude_self: bool = True,
    broadcast_threshold: int = 100_000,
    shard_rows: int = 8192,
) -> DataFrame:
    """Quantized-score top-k with exact rerank — the memory-bound scale path.

    Corpus vectors are L2-normalized then symmetrically quantized to int8
    (per-vector max-abs scale): 4× fewer scan bytes than fp32, 8× vs the
    fp64 exact path. Scoring runs the approximate pass on the int8 matrix
    (one integer-promoted matmul per Arrow batch), takes the top
    ``k × rerank_factor`` candidates per query, then reranks ONLY those
    against the fp64 originals (:func:`_rerank_topk`) — output semantics
    match :func:`cosine_topk_blas` whenever the true top-k survives the
    candidate cut (recall is pytest-asserted, and rises with
    ``rerank_factor``).

    At 10⁹ corpus vectors the approximate pass is what streams through
    memory/network, so its 4× compression is a direct 4× on the dominant
    cost; the rerank touches k·rerank_factor fp64 rows per query. Above
    ``broadcast_threshold`` corpus rows :func:`_dense_topk` shards the
    corpus (the scale is per-VECTOR, so shard boundaries cannot change any
    score) and the driver never holds the matrix.
    """
    n_cand = max(k * rerank_factor, k + 8)

    def quantize(C):
        scale = np.abs(C).max(axis=1, keepdims=True) / 127.0
        scale[scale == 0] = 1.0
        return np.floor(C / scale + 0.5).astype(np.int8), scale.ravel()

    def score(Q, qids, C, cids, codes):
        C8, scale = codes
        # approximate scores: (Q @ C8.T) * scale  ==  Q @ C_quantized.T
        approx = (Q.astype(np.float32) @ C8.astype(np.float32).T) * scale[None, :]
        return _rerank_topk(
            approx, Q, C, qids, cids, k, n_cand, round_digits, exclude_self
        )

    return _dense_topk(
        queries, corpus, query_id, corpus_id, vec_col, k,
        broadcast_threshold, shard_rows, score, quantize,
    )


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_planes: int = 6,
    seed: int = 7,
    round_digits: int = 4,
) -> DataFrame:
    """Approximate embedding near-dup pairs: only pairs colliding in the
    random-hyperplane LSH bucket are scored — the SCALE companion to the
    exact :func:`cosine_neardup_pairs` (whose block-pair path must ship
    n·B rows for exactness). Here the only shuffle is the bucket-key join;
    recall follows the LSH collision bound (high-cosine pairs agree on
    most hyperplane signs, so few planes ⇒ high recall at near-dup
    thresholds). Output: (id_a < id_b, cosine ≥ threshold) — a strict
    subset of the exact operator's output by construction.
    """
    from ecommerce_analytics_platform_spark.session import fan_out

    dim = len(df.select(vec_col).first()[0])
    signature = _plane_signature(hyperplanes(dim, n_planes, seed))
    base = fan_out(df.select(id_col, vec_col))
    n = normalize(base, vec_col, "__nv").select(
        F.col(id_col).alias("__id"), "__nv", signature(F.col("__nv")).alias("bucket")
    )
    # In-bucket pair scoring as one numpy matmul per bucket (r15, guide
    # §4.2 — same rationale and bit-robustness argument as
    # lsh_bucketed_topk: normalization and bucket signs stay JVM-side;
    # only the dot accumulation order changes, absorbed by the rounding).
    id_t = df.schema[id_col].dataType.simpleString()

    def score_bucket(_key, pdf):
        V = _matrix(pdf["__nv"])
        ids = pdf["__id"].to_numpy()
        return _pairs(_round(V @ V.T, round_digits), ids, ids, threshold)

    return n.groupBy("bucket").applyInPandas(
        score_bucket, f"id_a {id_t}, id_b {id_t}, cosine double"
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    tau: float = 0.95,
    n_lists: int = 16,
    kmeans_iters: int = 5,
    seed: int = 42,
    max_cluster: int = 100_000,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a deterministic spherical
    k-means coarse quantizer, then inside each cluster greedily keep a
    representative and drop any vector whose cosine to an already-kept
    vector is >= ``tau``. Keeper policy: ascending id order (the
    lowest-id member of a duplicate neighborhood survives) — fully
    deterministic, like operators/dedup.py's cluster keeper.

    Output: ``(id, list_id, kept, dup_of, overflow)`` — ``dup_of`` is the
    kept id that shadowed a dropped row (null on kept rows), always a
    ``kept=true`` id in the same cluster, with cosine(id, dup_of) >= tau
    by construction (both invariants oracle-checked by the registry's
    ``semantic_dedup`` contract query and pytest).

    Scale shape: the cluster partition bounds the quadratic — the only
    shuffle is the groupBy(list_id); per-cluster scoring is one BLAS
    ``V @ V.T``. Clusters larger than ``max_cluster`` skip the quadratic
    pass entirely (all rows kept, ``overflow=true`` — same guardrail
    contract as the LSH ``max_bucket`` cap); at 100 TB raise ``n_lists``
    so E[cluster] = N/n_lists stays bounded.
    """
    centroids = _train_centroids(df, id_col, vec_col, n_lists, kmeans_iters, seed)

    # (r15 negative result, measured: fan_out before the assign pass +
    # an explicit repartition(list_id) before applyInPandas — the §2.5
    # spread pattern — read 1.7-2.1 s vs 1.5-1.6 s as-is at sf0.1. Every
    # stage of this query runs single-task locally, but the SUMMED stage
    # CPU is only ~1.6 s, under the cost of the extra exchanges. At
    # cluster scale the scan arrives pre-split and n_lists is raised, so
    # the single-task shape is a small-input artifact, not a scale risk.)
    assigned = _assign_lists(df, id_col, vec_col, centroids, 1)

    def dedup_cluster(key, pdf):
        import pandas as pd

        ids = pdf["__id"].to_numpy()
        n = len(ids)
        dup_of = np.full(n, -1, dtype=np.int64)
        overflow = n > max_cluster
        if not overflow:
            V = _matrix(pdf["__nvec"])
            S = _round(V @ V.T, round_digits)
            kept: list[int] = []
            for i in np.argsort(ids, kind="stable"):
                if kept:
                    sims = S[i, kept]
                    j = int(np.argmax(sims))
                    if sims[j] >= tau:
                        # kept is in ascending id order, so argmax's first
                        # maximum is the lowest-id best-scoring shadow
                        dup_of[i] = ids[kept[j]]
                        continue
                kept.append(i)
        return pd.DataFrame(
            {
                "id": ids,
                "list_id": np.full(n, key[0], dtype="int32"),
                "kept": dup_of == -1,
                "dup_of": pd.Series(dup_of, dtype="Int64").where(dup_of != -1),
                "overflow": np.full(n, overflow),
            }
        )

    return assigned.groupBy("list_id").applyInPandas(
        dedup_cluster, "id long, list_id int, kept boolean, dup_of long, overflow boolean"
    )


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    out_dim: int = 8,
    seed: int = 19,
    round_digits: int = 4,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: reduce ``vec_col`` to
    ``out_dim`` dimensions with a seeded Gaussian matrix scaled by
    1/sqrt(out_dim) (distance-preserving in expectation — the classic
    cheap dimensionality reduction in front of clustering / ANN over
    billions of embeddings).

    The projection matrix reuses :func:`hyperplanes` (seeded, driver-side,
    out_dim × dim floats) embedded as literals — broadcast by
    construction, evaluated as codegen'd array folds, ZERO shuffle: the
    operator is a pure map over the corpus, which is the whole point at
    100 TB. Output is exploded ``(id, dim_idx, value)`` rows (hash-stable
    cross-engine, no array-format ambiguity); components are rounded to
    ``round_digits`` so the fold's summation (same left-to-right order in
    Spark ``aggregate`` and DuckDB ``list_sum``) hash-matches exactly.
    """
    import math

    dim = len(df.select(vec_col).first()[0])
    planes = hyperplanes(dim, out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    comps = F.array(
        *[
            F.round(_dot(v, F.array(*[F.lit(x) for x in p])) * F.lit(scale), round_digits)
            for p in planes
        ]
    )
    return df.select(
        F.col(id_col).alias("vec_id"), F.posexplode(comps).alias("dim_idx", "value")
    )


def pq_train_codebooks(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    m: int = 8,
    k_codes: int = 16,
    kmeans_iters: int = 5,
    seed: int = 5151,
):
    """Product-quantization codebooks (Jégou et al. 2011): split the
    L2-normalized vector into ``m`` subvectors and run an independent
    k-means (``k_codes`` centroids, Euclidean) per subspace on a seeded,
    id-ordered driver-side sample — the same deterministic-sample
    discipline as :func:`_train_centroids`. Returns an
    ``(m, k_codes, dim/m)`` float64 array, KBs even for billion-row
    corpora (the codebooks are sample-trained; encoding is distributed).
    """
    sample = _unit_sample(corpus, corpus_id, vec_col, max(k_codes * 64, 1024))
    if sample.shape[0] < k_codes:
        raise ValueError(
            f"PQ training needs at least k_codes={k_codes} sample rows; "
            f"corpus sample has only {sample.shape[0]} — lower k_codes or "
            "supply a larger corpus"
        )
    d = sample.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    rng = np.random.RandomState(seed)
    books = np.zeros((m, k_codes, sub))
    for j in range(m):
        X = sample[:, j * sub : (j + 1) * sub]
        centroids = X[rng.choice(len(X), k_codes, replace=False)].copy()
        for _ in range(kmeans_iters):
            d2 = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_codes):
                members = X[assign == c]
                if len(members):
                    centroids[c] = members.mean(axis=0)
        books[j] = centroids
    return books


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
    rerank_factor: int = 4,
    round_digits: int = 4,
    exclude_self: bool = True,
    broadcast_threshold: int = 100_000,
    shard_rows: int = 8192,
    kmeans_iters: int = 5,
    seed: int = 5151,
) -> DataFrame:
    """Product-quantized ANN with asymmetric distance (ADC) + exact
    rerank — the MEMORY-bound scale path past int8: each corpus vector
    compresses to ``m`` byte codes (64-dim fp64 → 8 bytes = 64×), so at
    10⁹ vectors the approximate pass streams an 8 GB code table instead
    of a 512 GB matrix. Scoring: per query batch, one tiny
    (m × k_codes) inner-product table against the codebooks, then the
    approximate score of every corpus vector is m table lookups (no
    per-vector dot product at all — the ADC trick); the top
    ``k × rerank_factor`` survivors rerank against the fp64 originals,
    exactly like :func:`int8_topk`. Codebooks are sample-trained once,
    driver-side, deterministic; above ``broadcast_threshold``
    :func:`_dense_topk` shards the corpus (codes computed per shard from
    the SAME global codebooks, so shard boundaries cannot change any
    score). Quality is contract-checked (recall vs the exact top-k)
    rather than hash-matched — the candidate cut is float-order sensitive
    by nature."""
    books = pq_train_codebooks(
        corpus, corpus_id, vec_col, m=m, k_codes=k_codes,
        kmeans_iters=kmeans_iters, seed=seed,
    )
    sub = books.shape[2]
    n_cand = max(k * rerank_factor, k + 8)

    def encode(C):
        codes = np.empty((len(C), m), dtype=np.uint8)
        for j in range(m):
            X = C[:, j * sub : (j + 1) * sub]
            d2 = ((X[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return codes

    def score(Q, qids, C, cids, codes):
        # ADC: T[j] = Q_sub @ books[j].T (b × k_codes); score = Σ_j T[j][code_j]
        approx = np.zeros((len(Q), len(codes)), dtype=np.float64)
        for j in range(m):
            approx += (Q[:, j * sub : (j + 1) * sub] @ books[j].T)[:, codes[:, j]]
        return _rerank_topk(
            approx, Q, C, qids, cids, k, n_cand, round_digits, exclude_self
        )

    return _dense_topk(
        queries, corpus, query_id, corpus_id, vec_col, k,
        broadcast_threshold, shard_rows, score, encode,
    )
