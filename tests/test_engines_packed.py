"""engine='jvm' register reduction parity + packed-binary (AddAs*) ingest
+ one-shot count_prehashed."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hyperloglog_spark import approx_distinct
from hyperloglog_spark.functions import approx_distinct_packed
from hyperloglog_spark.sketch import hll
from hyperloglog_spark.sketch.hashing import mix64


def test_jvm_engine_matches_arrow_global(spark, sf01_dir):
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    a = approx_distinct(ev, "user_id", engine="arrow").first()[0]
    j = approx_distinct(ev, "user_id", engine="jvm").first()[0]
    assert a == j                       # identical registers -> identical


def test_jvm_engine_matches_arrow_grouped(spark, sf01_dir):
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    a = {tuple(r)[:1]: r[-1] for r in approx_distinct(
        ev, "user_id", group_by="event_type", engine="arrow").collect()}
    j = {tuple(r)[:1]: r[-1] for r in approx_distinct(
        ev, "user_id", group_by="event_type", engine="jvm",
        expected_groups=8).collect()}
    assert a == j


def test_jvm_engine_composite_key_and_p(spark, sf01_dir):
    orders = spark.read.parquet(f"{sf01_dir}/orders.parquet")
    for p in (10, 14, 16):
        a = approx_distinct(orders, ["o_custkey", "o_orderpriority"],
                            p=p, engine="arrow").first()[0]
        j = approx_distinct(orders, ["o_custkey", "o_orderpriority"],
                            p=p, engine="jvm").first()[0]
        assert a == j, p


def test_jvm_engine_shuffle_budget(spark, sf01_dir):
    """Every jvm entry point: one scan, no per-row Arrow hop, and at most
    the 2 Exchanges each of these inputs planned before the register-row
    helpers were merged: register agg (1, with map-side partial) + group
    finalize (1)."""
    from hyperloglog_spark import approx_distinct_multi, hll_sketch_agg
    from hyperloglog_spark.engine.plans import assert_max_exchanges

    spark.catalog.clearCache()     # a cached scan would hide the FileScan
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    grouped = dict(group_by="event_type", engine="jvm", expected_groups=8)
    queries = {
        "global": approx_distinct(ev, "user_id", engine="jvm"),
        "grouped": approx_distinct(ev, "user_id", **grouped),
        "multi global": approx_distinct_multi(
            ev, ["user_id", "value"], engine="jvm"),
        "multi grouped": approx_distinct_multi(
            ev, ["user_id", "value"], **grouped),
        "hll_sketch_agg": hll_sketch_agg(ev, "user_id", **grouped),
    }
    for name, q in queries.items():
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1, name
        assert "MapInArrow" not in plan, name
        assert_max_exchanges(q, 2)


@pytest.mark.parametrize("p", [3, 17])
@pytest.mark.parametrize("engine", ["arrow", "jvm"])
@pytest.mark.parametrize("entry", [
    "approx_distinct", "hll_sketch_agg", "approx_distinct_multi"])
def test_out_of_range_p_raises_on_driver(spark, entry, engine, p):
    import hyperloglog_spark as hs

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    cols = ["a", "b"] if entry == "approx_distinct_multi" else "a"
    with pytest.raises(ValueError, match="precision p"):
        getattr(hs, entry)(df, cols, p=p, engine=engine)


# ------------------------------------------------------------ packed binary


@pytest.fixture(scope="module")
def packed_df(spark):
    rng = np.random.default_rng(42)
    rows = []
    for i in range(64):
        vals = rng.integers(0, 5000, size=rng.integers(10, 400),
                            dtype=np.int64).astype(np.int32)
        rows.append((i, i % 4, bytearray(vals.tobytes())))
    return (
        spark.createDataFrame(rows, ["row_id", "grp", "payload"])
        .repartition(4)
    ), rows


def test_packed_int32_estimate(spark, packed_df):
    df, rows = packed_df
    all_vals = np.concatenate([
        np.frombuffer(bytes(r[2]), dtype=np.int32) for r in rows
    ])
    want = hll.estimate(hll.from_hashes(
        mix64(all_vals.astype(np.int64)), 14))
    got = approx_distinct_packed(df, "payload", "int32").first()[0]
    assert got == want
    exact = len(np.unique(all_vals))
    assert abs(got - exact) / exact < 3 * 1.04 / 2 ** 7


def test_packed_grouped_and_trailing_bytes(spark, packed_df):
    df, rows = packed_df
    # add trailing garbage bytes: must be ignored (reference size//width)
    ragged = spark.createDataFrame(
        [(r[0], r[1], bytearray(bytes(r[2]) + b"\x01\x02\x03")) for r in rows],
        ["row_id", "grp", "payload"],
    ).repartition(3)
    base = {
        r["grp"]: r["n"] for r in approx_distinct_packed(
            df, "payload", "int32", group_by="grp", alias="n").collect()
    }
    with_tail = {
        r["grp"]: r["n"] for r in approx_distinct_packed(
            ragged, "payload", "int32", group_by="grp", alias="n").collect()
    }
    assert base == with_tail
    # oracle per group
    for g in range(4):
        vals = np.concatenate([
            np.frombuffer(bytes(r[2]), dtype=np.int32)
            for r in rows if r[1] == g
        ])
        assert base[g] == hll.estimate(
            hll.from_hashes(mix64(vals.astype(np.int64)), 14))


def test_packed_float_truncation(spark):
    vals = np.array([1.9, -2.7, 3.0, 1.2, 1.9], dtype=np.float64)
    df = spark.createDataFrame(
        [(1, bytearray(vals.tobytes()))], ["row_id", "payload"]
    )
    got = approx_distinct_packed(df, "payload", "float64").first()[0]
    # truncation toward zero: {1, -2, 3} -> 3 distinct (1.9 and 1.2 collide)
    want = hll.estimate(hll.from_hashes(
        mix64(np.trunc(vals).astype(np.int64)), 14))
    assert got == want == 3


# ----------------------------------------------------------------- one-shot


def test_count_prehashed_matches_pipeline():
    rng = np.random.default_rng(7)
    hs = rng.integers(0, 2 ** 64, size=100_000, dtype=np.uint64)
    assert hll.count_prehashed(hs) == hll.estimate(hll.from_hashes(hs, 14))
    # statistical sanity at the reference's measured points (~0.45-0.6%)
    err = abs(hll.count_prehashed(hs) - 100_000) / 100_000
    assert err < 3 * 1.04 / 2 ** 7

# ------------------------------------------------------------- set algebra


def test_union_intersection_jaccard_estimates():
    rng = np.random.default_rng(11)
    a_vals = rng.integers(0, 2 ** 62, size=60_000, dtype=np.uint64)
    b_vals = np.concatenate([a_vals[:20_000],                  # overlap
                             rng.integers(2 ** 62, 2 ** 63, size=40_000,
                                          dtype=np.uint64)])
    sa = hll.from_hashes(mix64(a_vals.astype(np.int64)), 14)
    sb = hll.from_hashes(mix64(b_vals.astype(np.int64)), 14)
    exact_a = len(np.unique(a_vals))
    exact_b = len(np.unique(b_vals))
    exact_u = len(np.unique(np.concatenate([a_vals, b_vals])))
    exact_i = exact_a + exact_b - exact_u
    bound = 3 * 1.04 / 2 ** 7
    assert abs(hll.union_estimate([sa, sb]) - exact_u) / exact_u < bound
    # intersection via inclusion-exclusion: three +-bound terms
    assert abs(hll.intersection_estimate(sa, sb) - exact_i) / exact_u < 3 * bound
    j = hll.jaccard_estimate(sa, sb)
    assert abs(j - exact_i / exact_u) < 3 * bound


def test_parity_float_truncation_hashing(spark):
    from hyperloglog_spark import approx_distinct

    df = spark.createDataFrame(
        [(1.9,), (1.2,), (3.0,), (2.5,), (1.7,)], ["x"]
    )
    got = approx_distinct(df, "x", hashing="parity").first()[0]
    # truncation: {1, 3, 2} -> 3 distinct, mirroring reference Add(double)
    assert got == 3


def test_jvm_sketch_agg_bytes_identical(spark, sf01_dir):
    """hll_sketch_agg: jvm engine produces BYTE-IDENTICAL sketches to the
    arrow UDAF path (same registers -> same deterministic codec choice)."""
    from hyperloglog_spark import hll_sketch_agg

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    a = {r["event_type"]: bytes(r["sketch"]) for r in hll_sketch_agg(
        ev, "user_id", group_by="event_type", engine="arrow").collect()}
    j = {r["event_type"]: bytes(r["sketch"]) for r in hll_sketch_agg(
        ev, "user_id", group_by="event_type", engine="jvm",
        expected_groups=8).collect()}
    assert a == j
    ga = bytes(hll_sketch_agg(ev, "user_id", engine="arrow").first()["sketch"])
    gj = bytes(hll_sketch_agg(ev, "user_id", engine="jvm").first()["sketch"])
    assert ga == gj


# -------------------------------------------------- grouped jvm scale guard


def test_jvm_grouped_without_expected_groups_falls_back(spark, sf01_dir):
    """VERDICT round 1 #4: unknown group cardinality must not run the jvm
    register-row path (state = #groups x 2^p). Fallback result must still
    be bit-identical (same registers either way)."""
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    fb = approx_distinct(ev, "user_id", group_by="event_type", engine="jvm")
    # no ArrowEvalPython register scan: the arrow path's mapInArrow shows
    # up instead of the jvm path's groupBy(__idx) aggregate
    plan = fb._sc._jvm.PythonSQLUtils.explainString(
        fb._jdf.queryExecution(), "formatted")
    assert "__idx" not in plan
    want = approx_distinct(
        ev, "user_id", group_by="event_type", engine="arrow").collect()
    assert sorted(map(tuple, fb.collect())) == sorted(map(tuple, want))


def test_jvm_grouped_over_budget_raises(spark, sf01_dir):
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    with pytest.raises(ValueError, match="register rows"):
        approx_distinct(ev, "user_id", group_by="event_type", engine="jvm",
                        p=16, expected_groups=10_000_000)


def test_jvm_grouped_within_budget_uses_jvm(spark, sf01_dir):
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    q = approx_distinct(ev, "user_id", group_by="event_type", engine="jvm",
                        expected_groups=8)
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted")
    assert "__idx" in plan
