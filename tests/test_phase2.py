"""Phase 2 of the grouped sketch path: the streaming per-key merge
(``engine.aggregate.merge_by_key``) behind ``sketch_agg`` and
``merge_sketches``, and the batch grouping it shares with phase 1."""

from __future__ import annotations

from collections import defaultdict
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import (
    approx_distinct,
    hll_sketch_agg,
    kll_agg,
    merge_sketches,
)
from hyperloglog_spark.engine.aggregate import sketch_partials
from hyperloglog_spark.functions import HllAggregator
from hyperloglog_spark.sketch import hll, kll

_KEYS = [0.0, -0.0, float("nan"), None, 1.5]


def _key(k) -> str:
    """Group key as text: NULL, NaN, 0.0 and -0.0 all read apart."""
    return "NULL" if k is None else repr(k)


@pytest.fixture(scope="module")
def float_keyed(spark):
    rows = [(_KEYS[i % 5], i % 3, i) for i in range(200)]
    return spark.createDataFrame(rows, "k double, j int, v long").repartition(4)


def _exact_by_k(df) -> dict[str, int]:
    return {_key(r["k"]): r["n"]
            for r in df.groupBy("k").agg(F.countDistinct("v").alias("n"))
            .collect()}


def test_grouped_distinct_keeps_nan_and_null_apart(float_keyed):
    exact = _exact_by_k(float_keyed)
    assert set(exact) == {"0.0", "nan", "NULL", "1.5"}
    got = {_key(r["k"]): r["approx_distinct"]
           for r in approx_distinct(float_keyed, "v", group_by="k").collect()}
    assert got == exact                         # exact regime: 40-80 keys


def test_grouped_merge_sketches_keeps_nan_and_null_apart(float_keyed):
    cells = hll_sketch_agg(float_keyed, "v", group_by=["k", "j"])
    rolled = merge_sketches(cells, group_by="k").collect()
    got = {_key(r["k"]): hll.estimate(bytes(r["sketch"])) for r in rolled}
    assert got == _exact_by_k(float_keyed)


@contextmanager
def two_row_batches(spark):
    """Two rows per Arrow batch, so each phase-2 task meets every key
    across several batches and must carry its merged sketch over."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="module")
def grouped_rows(spark):
    rng = np.random.default_rng(7)
    rows = [(f"g{i % 3}", int(v), float(v) / 7)
            for i, v in enumerate(rng.integers(0, 10_000, 300))]
    return spark.createDataFrame(rows, "g string, v long, x double") \
        .repartition(8)


def test_cross_batch_hll_equals_driver_merge(spark, grouped_rows):
    with two_row_batches(spark):
        got = {r["g"]: bytes(r["sketch"]) for r in
               hll_sketch_agg(grouped_rows, "v", group_by="g").collect()}
        partials = sketch_partials(grouped_rows, ["v"], HllAggregator(),
                                   ["g"]).collect()
    per_group = defaultdict(list)
    for r in partials:
        per_group[r["g"]].append(bytes(r["sketch"]))
    assert len(got) == 3
    assert got == {g: hll.merge_many(sks) for g, sks in per_group.items()}


def test_cross_batch_kll_matches_default_batches(spark, grouped_rows):
    qs = [0.0, 0.1, 0.5, 0.9, 1.0]

    def quantiles():
        return {r["g"]: list(kll.quantiles(bytes(r["sketch"]), qs))
                for r in kll_agg(grouped_rows, "x", group_by="g").collect()}

    default = quantiles()
    with two_row_batches(spark):
        tiny = quantiles()
    assert set(tiny) == {"g0", "g1", "g2"}
    assert tiny == default              # 100 rows a group: exact regime
