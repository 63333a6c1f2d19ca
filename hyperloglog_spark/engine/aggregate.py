"""Two-phase distributed sketch aggregation.

Python UDAFs get no automatic partial aggregation from Catalyst, so the
map-side combine is built explicitly (SURVEY.md §3.4):

    phase 1 (mapInArrow):  per-partition, per-group vectorized sketch build —
                           one output row per (partition, group), each a
                           BinaryType sketch (16 KB dense / smaller sparse)
    phase 2 (mapInArrow):  repartition(group_cols), then one streaming task
                           per shuffle partition folds each Arrow batch into
                           one merged sketch per key and finalizes every key
                           at partition end (``merge_by_key``)

Both phases group each batch with ``group_codes``, so a group costs one
n-ary merge call, not one pandas round trip. The shuffle moves #partitions
x #groups sketch rows, never data rows — what makes the pipeline
scan-bound at 100 TB (the reference's distribution hook is the same
register-max monoid, HyperLogLog.cs:733-781; we use it for every kind).

Hashing runs JVM-side by default (``F.xxhash64``, whole-stage codegen; only
8-byte hashes cross the Arrow boundary, not strings). ``hashing="parity"``
instead ships raw values to Python and applies the reference's FNV-1a 64 /
Murmur-finalizer for bit-parity with the reference sketches.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SKETCH_COL = "sketch"
# the one NaN key object: dict lookups compare keys by identity first, so
# tuples holding it find the NaN group again in every later batch
_NAN = float("nan")


class SketchAggregator:
    """Adapter every sketch kind implements to ride the two-phase pipeline.

    build_grouped: (codes int64[n], values dict[col -> np.ndarray/pd.Series],
                    n_groups) -> list[bytes]   (vectorized batch build)
    merge_many:    (list[bytes]) -> bytes
    finalize:      (bytes) -> dict[field -> python value]
    finalize_schema: pyspark StructType fields for the finalized values
    """

    name: str = "sketch"

    def prepare_columns(self, df: DataFrame, cols: list[str]) -> list[Column]:
        """Spark-side (JVM) preparation of the value columns."""
        raise NotImplementedError

    def build_grouped(self, codes, values, n_groups) -> list[bytes]:
        raise NotImplementedError

    def merge_many(self, sketches: list[bytes]) -> bytes:
        raise NotImplementedError

    def finalize(self, sketch: bytes) -> dict[str, Any]:
        raise NotImplementedError

    finalize_fields: list[T.StructField] = []


def _group_field(df: DataFrame, name: str) -> T.StructField:
    for f in df.schema.fields:
        if f.name == name:
            return f
    raise ValueError(f"group column {name!r} not in schema {df.schema.simpleString()}")


def _key_columns(df: DataFrame, cols: list[str]) -> list[Column]:
    """Group columns for a projection, with float ``-0.0`` keys folded into
    ``0.0`` as Spark's groupBy does, so the per-batch grouping and the
    phase-2 hash partitioning both see one zero."""
    out = []
    for c in cols:
        dt = _group_field(df, c).dataType
        col = F.col(c)
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            col = F.when(col == 0, F.lit(0).cast(dt)).otherwise(col)
        out.append(col.alias(c))
    return out


def group_codes(batch: pa.RecordBatch, n_keys: int) -> tuple[np.ndarray, list[tuple]]:
    """Vectorized grouping of ``batch`` on its first ``n_keys`` columns.

    Returns ``(codes, keys)``: row i belongs to group ``codes[i]`` (int64),
    whose key tuple is ``keys[codes[i]]``. Groups follow Spark's groupBy:
    NULL is a group of its own, apart from NaN, and every NaN key is the
    one ``_NAN`` object so a dict keyed by these tuples merges NaN across
    batches. ``-0.0`` stays apart from ``0.0`` here; project float keys
    through ``_key_columns`` first."""
    if n_keys == 0:
        return np.zeros(batch.num_rows, dtype=np.int64), [()]
    codes = None
    for i in range(n_keys):
        enc = pc.dictionary_encode(batch.column(i), null_encoding="encode")
        c = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        if codes is not None:
            # radix-combine with the codes so far, then re-encode: codes
            # stay below num_rows, so the product never overflows
            c = pc.dictionary_encode(
                pa.array(codes * len(enc.dictionary) + c)
            ).indices.to_numpy(zero_copy_only=False).astype(np.int64)
        codes = c
    # dictionary codes count up in order of first appearance
    _, first = np.unique(codes, return_index=True)
    cols = []
    for i in range(n_keys):
        vals = batch.column(i).take(first).to_pylist()
        if pa.types.is_floating(batch.schema.field(i).type):
            vals = [_NAN if v != v else v for v in vals]
        cols.append(vals)
    return codes, list(zip(*cols))


def _arrow_schema(fields: list[T.StructField]) -> pa.Schema:
    return pa.schema([pa.field(f.name, _to_arrow(f.dataType)) for f in fields])


_EMIT_BYTES = 64 << 20  # sketch bytes per output batch


def _emit(acc: dict[tuple, bytes], schema: pa.Schema, n_keys: int,
          tail: Callable[[list, list], list[pa.Array]]) -> Iterator[pa.RecordBatch]:
    """Drain ``acc`` (key tuple -> sketch) into batches of key columns +
    ``tail(keys, sketches)`` of about _EMIT_BYTES sketch bytes each, so a
    task never holds a second full copy of its sketches."""
    keys, sks, size = [], [], 0
    while acc:
        key, sk = acc.popitem()
        keys.append(key)
        sks.append(sk)
        size += len(sk)
        if size >= _EMIT_BYTES or not acc:
            arrays = [pa.array([k[i] for k in keys], type=schema.field(i).type)
                      for i in range(n_keys)]
            yield pa.RecordBatch.from_arrays(arrays + tail(keys, sks),
                                             schema=schema)
            keys, sks, size = [], [], 0


def sketch_partials(
    df: DataFrame,
    value_cols: list[str],
    agg: SketchAggregator,
    group_cols: list[str] | None = None,
    with_rows: bool = False,
) -> DataFrame:
    """Phase 1: one sketch row per (partition, group).

    with_rows=True adds a ``rows`` LongType column counting the input rows
    each partial consumed (lineage/metrics come free from the same scan)."""
    group_cols = list(group_cols or [])
    prepared = agg.prepare_columns(df, value_cols)
    value_names = [f"__v{i}" for i in range(len(prepared))]
    proj = df.select(
        *_key_columns(df, group_cols),
        *[c.alias(n) for c, n in zip(prepared, value_names)],
    )

    out_fields = [_group_field(df, c) for c in group_cols]
    out_fields.append(T.StructField(SKETCH_COL, T.BinaryType(), False))
    if with_rows:
        out_fields.append(T.StructField("rows", T.LongType(), False))
    out_schema = T.StructType(out_fields)
    out_arrow = _arrow_schema(out_fields)

    n_keys = len(group_cols)
    build_grouped = agg.build_grouped
    merge_many = agg.merge_many

    def build_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict[tuple, bytes] = {}
        nrows: dict[tuple, int] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            values = {n: batch.column(n_keys + i) for i, n in enumerate(value_names)}
            codes, keys = group_codes(batch, n_keys)
            sketches = build_grouped(codes, values, len(keys))
            counts = np.bincount(codes, minlength=len(keys))
            for key, sk, cnt in zip(keys, sketches, counts):
                prev = acc.get(key)
                acc[key] = sk if prev is None else merge_many([prev, sk])
                nrows[key] = nrows.get(key, 0) + int(cnt)

        def tail(keys, sks):
            arrays = [pa.array(sks, type=pa.binary())]
            if with_rows:
                arrays.append(pa.array([nrows[k] for k in keys], pa.int64()))
            return arrays

        yield from _emit(acc, out_arrow, n_keys, tail)

    return proj.mapInArrow(build_partition, out_schema)


def merge_by_key(
    df: DataFrame,
    key_cols: list[str],
    merge_many: Callable[[list[bytes]], bytes],
    finalize: Callable[[bytes], dict[str, Any]] | None = None,
    finalize_fields: list[T.StructField] | None = None,
) -> DataFrame:
    """Merge the SKETCH_COL cells of ``df`` (key_cols + SKETCH_COL) per key
    within each partition: one mapInArrow streams the Arrow batches, groups
    each with ``group_codes`` and keeps one merged sketch per key,
    ``acc[key] = merge_many(cells_of_key + [acc[key]])``, then emits
    key_cols + the merged SKETCH_COL (or ``finalize(merged)`` as
    ``finalize_fields``). Over ``df.repartition(*key_cols)`` this is a
    complete grouped merge (phase 2); over unshuffled rows, a map-side
    combine."""
    n_keys = len(key_cols)
    tail_fields = (list(finalize_fields) if finalize is not None
                   else [T.StructField(SKETCH_COL, T.BinaryType(), False)])
    out_fields = [_group_field(df, c) for c in key_cols] + tail_fields
    out_arrow = _arrow_schema(out_fields)

    def finalized(keys, sks):
        if finalize is None:
            return [pa.array(sks, type=pa.binary())]
        rows = [finalize(sk) for sk in sks]
        # from_pandas: a NaN result reads as NULL, as it did via pandas
        return [pa.array([r[f.name] for r in rows],
                         type=out_arrow.field(n_keys + i).type, from_pandas=True)
                for i, f in enumerate(tail_fields)]

    def merge_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict[tuple, bytes] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            codes, keys = group_codes(batch, n_keys)
            cells = batch.column(n_keys).to_pylist()
            order = np.argsort(codes, kind="stable")
            bounds = np.searchsorted(codes[order], np.arange(len(keys) + 1))
            for g, key in enumerate(keys):
                sks = [cells[j] for j in order[bounds[g]:bounds[g + 1]]]
                prev = acc.get(key)
                if prev is not None:
                    sks.append(prev)
                acc[key] = merge_many(sks)
        yield from _emit(acc, out_arrow, n_keys, finalized)

    return df.mapInArrow(merge_partition, T.StructType(out_fields))


def sketch_agg(
    df: DataFrame,
    value_cols: list[str],
    agg: SketchAggregator,
    group_cols: list[str] | None = None,
    finalize: bool = True,
) -> DataFrame:
    """Full two-phase aggregation. Returns group_cols + finalized fields
    (or group_cols + the merged sketch when finalize=False).

    Phase 1 (``sketch_partials``) builds one partial per (partition,
    group); phase 2 is ``merge_by_key`` over the partials repartitioned on
    the group keys: one streaming mapInArrow task per shuffle partition,
    n-ary merges per key, no Python call per group. The global case groups
    on a constant ``__g`` key through the same path."""
    group_cols = list(group_cols or [])
    key_cols = group_cols or ["__g"]
    partials = sketch_partials(df, value_cols, agg, group_cols)
    if not group_cols:
        partials = partials.withColumn("__g", F.lit(1))
    partials = partials.select(*key_cols, SKETCH_COL).repartition(*key_cols)
    out = merge_by_key(partials, key_cols, agg.merge_many,
                       agg.finalize if finalize else None, agg.finalize_fields)
    return out if group_cols else out.drop("__g")


def _to_arrow(dt: T.DataType) -> pa.DataType:
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(dt)


def tree_merge_rows(
    partials: DataFrame,
    merge_many: Callable[[list[bytes]], bytes],
    fan_in: int = 32,
    n_partials: int | None = None,
) -> DataFrame:
    """Tree-reduce a one-sketch-row-per-partition DataFrame to ONE row.

    The rows are reduced on the cluster in ``ceil(log_fan_in(P))`` grouped
    levels: each level buckets CONTIGUOUS runs of ``fan_in`` partials
    (``bucket = origin // fan_in``) and merges each bucket sorted by origin,
    so the whole tree is a pure RE-BRACKETING of the sequential left-to-right
    merge — byte-identical for every sketch kind with the re-bracketing law
    (HLL/CMS/Bloom/CBF/Count-Sketch/theta/KMV: exact monoids; KLL/t-digest:
    shuffled-merge byte-identity is tested; FD: identical in the exact regime,
    certificate-lawful otherwise). No level's task ever holds more than
    ``fan_in`` partials. Returns a DataFrame with the single SKETCH_COL
    column and at most one row (zero when ``partials`` is empty)."""
    if fan_in < 2:
        raise ValueError(f"fan_in must be >= 2 (got {fan_in})")
    # upper bound on partial rows (empty partitions emit no row); callers
    # that already know the partition count pass it to avoid a second
    # DataFrame->RDD conversion
    n = (partials.rdd.getNumPartitions()
         if n_partials is None else n_partials)
    schema = T.StructType(
        [
            T.StructField("__b", T.LongType(), False),
            T.StructField(SKETCH_COL, T.BinaryType(), False),
        ]
    )

    def merge_bucket(pdf):
        import pandas as pd

        # sort by origin index -> the bucket merge replays left-to-right
        # order; the emitted row takes the (dense, order-preserving) bucket
        # index as its new origin so the next level buckets contiguously
        ordered = pdf.sort_values("__b")
        return pd.DataFrame(
            {
                "__b": [int(ordered["__g"].iloc[0])],
                SKETCH_COL: [merge_many(list(ordered[SKETCH_COL]))],
            }
        )

    level = partials.select(
        F.spark_partition_id().cast("long").alias("__b"), F.col(SKETCH_COL)
    )
    while n > fan_in:
        # contiguous runs of fan_in origins -> one bucket
        level = (
            level.withColumn("__g", F.floor(F.col("__b") / F.lit(int(fan_in))))
            .groupBy("__g")
            .applyInPandas(merge_bucket, schema)
        )
        n = -(-n // fan_in)
    return (
        level.withColumn("__g", F.lit(0).cast("long"))
        .groupBy("__g")
        .applyInPandas(merge_bucket, schema)
        .select(SKETCH_COL)
    )


def premerged_sketch(
    df: DataFrame,
    value_cols: list[str],
    agg: SketchAggregator,
    fan_in: int = 32,
) -> DataFrame:
    """Distributed tree-merge of the phase-1 partials down to ONE sketch row.

    Phase 1 emits one partial per scan partition; at 100 TB that is 1e5-1e6
    rows, and for byte-heavy sketches (a billion-key Bloom partial is ~1 GiB)
    a driver collect() of all of them is a genuine memory cliff — see
    ``tree_merge_rows`` for the reduction shape and its byte-identity
    guarantee."""
    partials = sketch_partials(df, value_cols, agg)
    return tree_merge_rows(partials, agg.merge_many, fan_in=fan_in)


def collect_merged(
    df: DataFrame,
    value_cols: list[str],
    agg: SketchAggregator,
    fan_in: int = 32,
) -> bytes:
    """Driver-side variant: build partials distributed, reduce to one
    sketch, collect it. Driver memory is bounded by ``fan_in`` partials at
    any partition count — the same bound every tree task holds:

    - P <= fan_in partitions: collect the partials directly (at most
      fan_in rows — exactly what a single merge task would hold) and fold
      them in partition order on the driver. No extra stage; this is the
      common small-job case and the left-to-right fold the tree
      re-brackets, so bytes are identical to the tree path.
    - P > fan_in: tree-merge ON THE CLUSTER (see premerged_sketch) and
      collect exactly one row. At 10^6 scan partitions and GiB-sized
      Bloom partials the driver sees one sketch, not a PiB."""
    if fan_in < 2:
        raise ValueError(f"fan_in must be >= 2 (got {fan_in})")
    partials = sketch_partials(df, value_cols, agg)
    n = partials.rdd.getNumPartitions()
    if n <= fan_in:
        rows = partials.select(
            F.spark_partition_id().alias("__b"), F.col(SKETCH_COL)
        ).collect()
        if not rows:
            raise ValueError("no input rows")
        ordered = sorted(rows, key=lambda r: r["__b"])
        return agg.merge_many([r[SKETCH_COL] for r in ordered])
    rows = tree_merge_rows(
        partials, agg.merge_many, fan_in=fan_in, n_partials=n
    ).collect()
    if not rows:
        raise ValueError("no input rows")
    return rows[0][SKETCH_COL]
