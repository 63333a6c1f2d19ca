"""Regression tests for the round-4 ADVICE findings.

1. ``tree_merge_rows`` with fan_in < 2 must raise instead of building an
   unbounded plan (ceil(n/1) never decreases -> infinite while loop).
2. ``kll.update_weighted`` must reject non-finite weights: floor(inf)==inf
   slipped through the integrality check and the int64 cast then produced
   INT64_MIN, silently corrupting level placement.
3. ``cms_topk_verified`` (and ``cms_topk``, ``cms_agg``,
   ``cms_topk_shards``) promised exact total mass but silently
   floor-truncated fractional double weights via cast("long"); fractional
   weights now raise, integral-valued doubles still work.
"""

from __future__ import annotations

import numpy as np
import pytest

from hyperloglog_spark.sketch import kll


def test_tree_merge_rows_rejects_fan_in_below_two(spark):
    from hyperloglog_spark.engine.aggregate import tree_merge_rows

    df = spark.range(4).selectExpr(
        "cast(cast(id as string) as binary) as sketch"
    )
    for bad in (1, 0, -3):
        with pytest.raises(ValueError, match="fan_in"):
            tree_merge_rows(df, lambda parts: parts[0], fan_in=bad)


def test_collect_merged_inherits_fan_in_validation(spark):
    from hyperloglog_spark import functions as HF
    from hyperloglog_spark.engine.aggregate import collect_merged

    df = spark.range(100).selectExpr("cast(id as string) as v")
    agg = HF.HllAggregator(p=12)
    with pytest.raises(ValueError, match="fan_in"):
        collect_merged(df, ["v"], agg, fan_in=1)
    # fan_in=2 (the minimum) still merges to one sketch
    sk = collect_merged(df, ["v"], agg, fan_in=2)
    assert isinstance(sk, bytes) and len(sk) > 0


def test_kll_update_weighted_rejects_nonfinite_weights():
    sk = kll.empty(k=200)
    vals = np.array([1.0, 2.0])
    # weights at/above 2^62 would overflow the int64 cast -> raise
    with pytest.raises(ValueError, match="integer"):
        kll.update_weighted(sk, vals, np.array([1.0, 2.0**62]))
    # +/-inf and NaN weights are dropped by the keep mask like NaN values
    # (previously +inf passed floor(inf)==inf and the int64 cast turned it
    # into INT64_MIN, silently corrupting level placement)
    out = kll.update_weighted(
        sk, np.array([1.0, 2.0, 3.0, 4.0]),
        np.array([2.0, np.inf, -np.inf, np.nan]))
    assert kll.n_items(out) == 2


def test_kll_weighted_still_matches_unweighted_on_ones():
    vals = np.arange(1000, dtype=np.float64)
    a = kll.update(kll.empty(k=200), vals)
    b = kll.update_weighted(kll.empty(k=200), vals, np.ones(len(vals)))
    assert a == b


def test_cms_topk_verified_rejects_fractional_weights(spark):
    from hyperloglog_spark import cms_topk, cms_topk_verified
    from hyperloglog_spark.frequency import cms_agg, cms_topk_shards

    df = spark.createDataFrame(
        [("a", 1.5), ("b", 2.0), ("a", 3.0)], ["k", "w"]
    )
    with pytest.raises(Exception, match="non-negative integers"):
        cms_topk_verified(df, "k", k=2, weight_col="w").collect()
    with pytest.raises(Exception, match="non-negative integers"):
        cms_topk(df, "k", k=2, weight_col="w").collect()
    # the CmsAggregator path and the shard builder share the checked cast
    with pytest.raises(Exception, match="non-negative integers"):
        cms_agg(df, "k", weight_col="w").collect()
    with pytest.raises(Exception, match="non-negative integers"):
        cms_topk_shards(df, "k", shard_by="k", weight_col="w").collect()


def test_cms_topk_verified_integral_double_weights_exact(spark):
    from hyperloglog_spark import cms_topk_verified

    df = spark.createDataFrame(
        [("a", 2.0), ("b", 5.0), ("a", 1.0), ("c", 3.0)], ["k", "w"]
    )
    rows = cms_topk_verified(df, "k", k=3, weight_col="w").collect()
    assert [(r["k"], r["exact_count"]) for r in rows] == [
        ("b", 5), ("a", 3), ("c", 3)
    ]
