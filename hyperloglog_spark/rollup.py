"""Sketch-column re-aggregation (rollup): merge STORED sketches, no rescan.

This is the pattern that makes sketches valuable in a lakehouse: persist
per-(day, key) sketch rows once (`hll_sketch_agg(..., engine=...)`,
`cms_sketch_agg`, ...), then answer every coarser query — per key, per
week, global — by merging the stored BinaryType cells. At 10^12-turn
scale the rollup input is millions of ~KB sketch rows, not the trillion
data rows, so a query that would rescan 100 TB becomes a sub-second
merge of a few GB.

The reference has no stored-state story at all (its `EstimatorState` is
internal-only, /root/reference/HyperLogLog/EstimatorState.cs:5-12); its
n-ary `Merge(IList)` (/root/reference/HyperLogLog/HyperLogLog.cs:788-803)
is the single-process seed of this operator. Our codec envelope is
self-describing (magic/version/kind — sketch/codec.py), so ONE operator
serves all nine sketch kinds; a group whose cells mix kinds (or, for HLL,
precisions — mirroring the equal-m check at HyperLogLog.cs:740-744)
raises rather than merging garbage.

Scale shape: both phases are ``engine.aggregate.merge_by_key``, the same
streaming per-key merge the build path's phase 2 runs. Phase 1 folds each
input partition's cells per key (a map-side combine), so at most
(#partitions x #groups) sketch rows cross the shuffle; phase 2 runs it
again over ``repartition(group_by)``, one mapInArrow task per shuffle
partition with one n-ary merge per key and batch. Merges are associative
and commutative, so the rolled-up sketch is byte-identical to one built
directly from the raw rows (asserted in tests/test_rollup.py).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .engine.aggregate import (
    SKETCH_COL,
    _key_columns,
    merge_by_key,
    tree_merge_rows,
)
from .sketch import (
    bloom,
    cbf,
    cms,
    codec,
    countsketch,
    fd,
    hll,
    kll,
    tdigest,
    theta,
)

__all__ = ["merge_sketches", "hll_rollup", "quantiles_rollup"]

_MERGERS = {
    codec.KIND_HLL: hll.merge_many,
    codec.KIND_CMS: cms.merge_many,
    codec.KIND_BLOOM: bloom.merge_many,
    codec.KIND_KLL: kll.merge_many,
    codec.KIND_TDIGEST: tdigest.merge_many,
    codec.KIND_THETA: theta.union_many,
    codec.KIND_COUNTSKETCH: countsketch.merge_many,
    codec.KIND_CBF: cbf.merge_many,
    codec.KIND_FD: fd.merge_many,
}


def _merge_cells(sketches: list[bytes], fold_to: int | None = None) -> bytes:
    kinds = {codec.sketch_kind(s) for s in sketches}
    if len(kinds) != 1:
        raise ValueError(
            f"cannot merge mixed sketch kinds in one group: {sorted(kinds)}"
        )
    kind = kinds.pop()
    if fold_to is not None:
        if kind != codec.KIND_HLL:
            raise ValueError("fold_to applies to HLL cells only")
        sketches = [hll.fold(s, fold_to) for s in sketches]
    return _MERGERS[kind](sketches)


def merge_sketches(
    df: DataFrame,
    sketch_col: str = SKETCH_COL,
    group_by: str | list[str] | None = None,
    alias: str = SKETCH_COL,
    fold_to: int | None = None,
) -> DataFrame:
    """Merge a BinaryType sketch column per group (global when no group).

    Returns group_by + one merged-sketch column. NULL cells are skipped;
    a group with only NULLs is dropped (grouped-aggregation convention,
    same as the build path on empty input). Works for every sketch kind
    the codec knows — kind is read from the cell envelope.

    ``fold_to=p`` (HLL only) exactly folds every cell down to precision p
    before merging — for stores whose shards were written at different
    precisions over time (see ``sketch.hll.fold``).
    """
    group_cols = (
        [group_by] if isinstance(group_by, str) else list(group_by or [])
    )
    proj = df.select(
        *_key_columns(df, group_cols),
        F.col(sketch_col).alias(SKETCH_COL),
    ).filter(F.col(SKETCH_COL).isNotNull())
    merge = partial(_merge_cells, fold_to=fold_to)
    # phase 1: map-side combine of each input partition's cells per key
    partials = merge_by_key(proj, group_cols, merge)
    if not group_cols:
        # global rollup: tree-reduce the per-partition partials on the
        # cluster (same shape as the build path's collect_merged fix) —
        # a single-group merge would funnel one partial per input
        # partition into ONE task, a cliff for byte-heavy stored cells
        # (Bloom/CBF) at 10^5+ partitions
        merged = tree_merge_rows(partials,
                                 lambda sks: merge([bytes(s) for s in sks]))
        return merged.select(F.col(SKETCH_COL).alias(alias))
    # phase 2: the same streaming merge over the hash-partitioned partials
    out = merge_by_key(partials.repartition(*group_cols), group_cols, merge)
    return out.withColumnRenamed(SKETCH_COL, alias)


def hll_rollup(
    df: DataFrame,
    sketch_col: str = SKETCH_COL,
    group_by: str | list[str] | None = None,
    alias: str = "approx_distinct",
    fold_to: int | None = None,
) -> DataFrame:
    """Roll stored HLL sketches up to coarser groups and estimate.

    ``hll_rollup(daily, group_by="event_type")`` over per-(event_type, day)
    sketch rows gives the same estimates as sketching the raw rows per
    event_type — byte-identical registers, zero data rescan. ``fold_to=p``
    exactly folds mixed-precision shards to p first.
    """
    from .functions import hll_estimate_udf

    merged = merge_sketches(df, sketch_col, group_by, alias="__sk",
                            fold_to=fold_to)
    group_cols = (
        [group_by] if isinstance(group_by, str) else list(group_by or [])
    )
    return merged.select(
        *[F.col(c) for c in group_cols],
        hll_estimate_udf(F.col("__sk")).alias(alias),
    )


def quantiles_rollup(
    df: DataFrame,
    qs: list[float],
    sketch_col: str = SKETCH_COL,
    group_by: str | list[str] | None = None,
) -> DataFrame:
    """Quantiles at ranks ``qs`` from STORED KLL or t-digest sketch rows,
    merged up to ``group_by`` — the quantile twin of :func:`hll_rollup`.
    The kind (KLL vs t-digest) is read from each cell's codec envelope.
    Output columns follow approx_quantiles naming (0.5 -> q5, 0.99 -> q99).
    """
    import numpy as np

    from .quantiles import _q_name
    from .sketch import kll as _kll
    from .sketch import tdigest as _td

    qs = list(qs)
    if any(not 0 <= q <= 1 for q in qs):
        raise ValueError(f"quantile ranks must be in [0, 1]: {qs}")
    merged = merge_sketches(df, sketch_col, group_by, alias="__sk")
    group_cols = (
        [group_by] if isinstance(group_by, str) else list(group_by or [])
    )

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def qudf(cells):
        import pandas as pd

        out = []
        for cell in cells:
            b = bytes(cell)
            kind = codec.sketch_kind(b)
            if kind == codec.KIND_KLL:
                vals = _kll.quantiles(b, qs)
            elif kind == codec.KIND_TDIGEST:
                vals = _td.quantiles(b, qs)
            else:
                raise ValueError(
                    f"quantiles_rollup needs KLL/t-digest cells, got kind {kind}"
                )
            out.append([None if np.isnan(v) else float(v) for v in vals])
        return pd.Series(out)

    sel = merged.select(
        *[F.col(c) for c in group_cols], qudf(F.col("__sk")).alias("__qs")
    )
    return sel.select(
        *[F.col(c) for c in group_cols],
        *[
            F.element_at("__qs", i + 1).alias(_q_name(q))
            for i, q in enumerate(qs)
        ],
    )
