"""approx_distinct_multi: N per-column distinct counts in ONE scan —
estimates bit-identical to per-column approx_distinct, per-column null
semantics, single FileScan + single Exchange in the plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import approx_distinct, approx_distinct_multi
from hyperloglog_spark.engine.plans import (
    assert_max_exchanges,
    assert_pruned_scan,
)


@pytest.fixture(scope="module")
def events(spark, sf01_dir):
    return spark.read.parquet(f"{sf01_dir}/events.parquet").cache()


class TestMultiDistinct:
    def test_matches_per_column_runs(self, events):
        row = approx_distinct_multi(
            events, ["user_id", "event_type", "value"]
        ).collect()[0]
        for c in ("user_id", "event_type", "value"):
            single = approx_distinct(events, c).collect()[0][0]
            assert row[f"n_{c}"] == single, c

    def test_grouped(self, events):
        got = {
            r["event_type"]: (r["n_user_id"], r["n_value"])
            for r in approx_distinct_multi(
                events, ["user_id", "value"], group_by="event_type"
            ).collect()
        }
        for et, (nu, nv) in got.items():
            sub = events.filter(F.col("event_type") == et)
            assert nu == approx_distinct(sub, "user_id").collect()[0][0]
            assert nv == approx_distinct(sub, "value").collect()[0][0]

    def test_per_column_null_semantics(self, spark):
        df = spark.createDataFrame(
            [("a", 1), ("b", None), (None, 2), ("a", 2), (None, None)],
            "s string, i int",
        )
        row = approx_distinct_multi(df, ["s", "i"]).collect()[0]
        assert row["n_s"] == 2        # a, b — NULLs dropped per column
        assert row["n_i"] == 2        # 1, 2

    def test_single_scan_single_shuffle(self, spark, events, sf01_dir):
        spark.catalog.clearCache()
        fresh = spark.read.parquet(f"{sf01_dir}/events.parquet")
        q = approx_distinct_multi(fresh, ["user_id", "event_type"])
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1      # ONE pass over the data
        assert_max_exchanges(q, 1)
        assert_pruned_scan(q, {"user_id", "event_type"})

    def test_all_null_column_counts_zero(self, spark):
        df = spark.createDataFrame(
            [("x", None), ("y", None)], "s string, i int"
        )
        row = approx_distinct_multi(df, ["s", "i"]).collect()[0]
        assert row["n_s"] == 2
        assert row["n_i"] == 0


class TestMultiDistinctJvmEngine:
    """engine='jvm' keeps the multi-column reduction in whole-stage
    codegen (explode to (tag, packed) register entries + map-side-combined
    groupBy); same packed kernel as the arrow MultiHllAggregator, so the
    registers — and therefore estimates — are bit-identical."""

    def test_global_identical_to_arrow(self, events):
        cols = ["user_id", "event_type", "value"]
        a = approx_distinct_multi(events, cols).collect()
        j = approx_distinct_multi(events, cols, engine="jvm").collect()
        assert a == j

    def test_grouped_identical_with_nulls(self, events):
        withnulls = events.withColumn(
            "maybe", F.when(F.col("event_id") % 7 != 0, F.col("user_id"))
        )
        cols = ["user_id", "maybe"]
        a = (approx_distinct_multi(withnulls, cols, group_by="event_type")
             .orderBy("event_type").collect())
        j = (approx_distinct_multi(withnulls, cols, group_by="event_type",
                                   engine="jvm", expected_groups=8)
             .orderBy("event_type").collect())
        assert a == j

    def test_all_null_column_counts_zero_jvm(self, spark):
        df = spark.createDataFrame(
            [("x", None), ("y", None)], "s string, i int"
        )
        row = approx_distinct_multi(df, ["s", "i"], engine="jvm").collect()[0]
        assert row["n_s"] == 2
        assert row["n_i"] == 0

    def test_all_null_group_kept_like_arrow(self, spark):
        # group "z" has only NULLs in the measured columns: the arrow path
        # emits it with zeros, so the jvm path must not drop it
        df = spark.createDataFrame(
            [("y", "a", 1), ("y", None, 2), ("z", None, None),
             ("z", None, None)],
            "g string, s string, i int",
        )
        kw = dict(group_by="g")
        a = approx_distinct_multi(df, ["s", "i"], **kw).orderBy("g").collect()
        j = (approx_distinct_multi(df, ["s", "i"], engine="jvm",
                                   expected_groups=2, **kw)
             .orderBy("g").collect())
        assert a == j
        assert [tuple(r) for r in j] == [("y", 1, 2), ("z", 0, 0)]

    def test_all_null_global_and_empty_input(self, spark):
        df = spark.createDataFrame(
            [(None, None), (None, None)], "s string, i int"
        )
        for engine in ("arrow", "jvm"):
            got = approx_distinct_multi(df, ["s", "i"], engine=engine)
            assert [tuple(r) for r in got.collect()] == [(0, 0)], engine
            # one column is the plain (untagged) builder: same rule
            got = approx_distinct_multi(df, ["s"], engine=engine)
            assert [tuple(r) for r in got.collect()] == [(0,)], engine
            empty = approx_distinct_multi(
                df.limit(0), ["s", "i"], engine=engine)
            assert empty.collect() == [], engine

    def test_single_scan_no_arrow_udf_in_reduction(self, spark, sf01_dir):
        spark.catalog.clearCache()
        fresh = spark.read.parquet(f"{sf01_dir}/events.parquet")
        q = approx_distinct_multi(
            fresh, ["user_id", "event_type"], engine="jvm"
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1
        # the per-row reduction is JVM hash aggregation; the only Python
        # stage is the per-group register assembly (<= n_cols * 2^p rows)
        assert "__idx" in plan
        assert plan.count("FlatMapGroupsInPandas") == 1
        assert "MapInArrow" not in plan
        assert_pruned_scan(q, {"user_id", "event_type"})

    def test_grouped_budget_guard(self, events):
        # unknown group cardinality -> silent arrow fallback (same rule
        # as approx_distinct); over budget -> explicit error
        q = approx_distinct_multi(
            events, ["user_id", "value"], group_by="event_type",
            engine="jvm",
        )
        assert "MapInArrow" in q._jdf.queryExecution().executedPlan().toString()
        with pytest.raises(ValueError, match="budget"):
            approx_distinct_multi(
                events, ["user_id", "value"], group_by="event_type",
                engine="jvm", expected_groups=1 << 24,
            )
