"""Self-tests of the benchmark's own machinery:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pytest

from perfbench import data, probe, run, workloads

NAME = re.compile(r"[A-Za-z0-9_.-]+")
SMALL = dict(n_turns=400_000, n_convs=10_000)


@pytest.fixture(scope="module")
def spark():
    from hyperloglog_spark.engine.session import get_spark

    s = get_spark(app_name="perfbench_tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def table(tmp_path_factory):
    from hyperloglog_spark.data import transcripts

    path = str(tmp_path_factory.mktemp("perfbench") / "t")
    transcripts.write(path, seed=3, n_files=4, parallel=1, **SMALL)
    return path


def _action(spark, group, fn):
    spark.sparkContext.setJobGroup(group, group)
    try:
        return fn()
    finally:
        spark.sparkContext.setJobGroup("", "")


def test_plan_walker_arrow_and_jvm(spark, table):
    from hyperloglog_spark import approx_distinct

    df = spark.read.parquet(table)
    arrow = approx_distinct(df, "conv_id")
    arrow.collect()
    got = probe.plan_layers(arrow)
    assert got["scan.ms"] > 0 and got["scan.bytes"] > 0
    assert got["arrow.bytes_in"] > 0 and got["arrow.bytes_out"] > 0
    assert got["aggregate.phase1.python_ms"] > 0
    assert got["aggregate.phase1.partials"] > 0
    assert got["aggregate.phase2.groups"] == 1
    assert got["shuffle.exchanges"] >= 1 and got["shuffle.bytes"] > 0

    jvm = approx_distinct(df, "conv_id", engine="jvm")
    jvm.collect()
    got = probe.plan_layers(jvm)
    assert got["scan.ms"] > 0
    assert got["jvm_agg.rows_out"] > 0 and got["codegen.ms"] > 0
    assert got["aggregate.phase2.python_ms"] > 0
    assert got["shuffle.exchanges"] >= 1 and got["shuffle.records"] > 0


def test_status_store_reader(spark, table):
    from hyperloglog_spark import approx_distinct

    import time

    df = spark.read.parquet(table)
    start_ms = time.time() * 1e3
    _action(spark, "perfbench-test", lambda: approx_distinct(
        df, "conv_id").collect())
    end_ms = time.time() * 1e3
    jobs = probe.job_records(spark, "perfbench-test")
    assert jobs and all(j["start_ms"] and j["end_ms"] for j in jobs)
    stages = [s for j in jobs for s in j["stages"]]
    assert any(s["tasks"] > 0 and s["run_ms"] >= 0 for s in stages)
    totals = probe.stage_layers(jobs)
    assert totals["scan.rows"] == SMALL["n_turns"]
    assert totals["stage.tasks"] > 0 and totals["stage.run_ms"] > 0
    assert totals["stage.failed_tasks"] == 0
    covered = probe.covered_ms(jobs, start_ms, end_ms)
    assert 0 < covered <= end_ms - start_ms
    assert probe.job_records(spark, "no-such-group") == []


def test_covered_ms_merges_overlaps():
    stages = [{"start_ms": 0, "end_ms": 10}, {"start_ms": 5, "end_ms": 20},
              {"start_ms": 30, "end_ms": 40}, {"start_ms": None, "end_ms": 1}]
    assert probe.covered_ms([{"stages": stages}], 2, 35) == 23


def test_fingerprint_check(table):
    oracle, lat = data.exact_answers(table)
    fp = oracle["fingerprint"]
    assert fp["rows"] == SMALL["n_turns"] and fp["files"] == 4
    assert len(lat) == SMALL["n_turns"] - fp["distinct_conv_id"]
    pinned = {"params": oracle["params"],
              "tables": {"3": {k: fp[k] for k in data.FINGERPRINT_KEYS}}}
    data.check_fingerprint(oracle, table, 3, pinned)
    drifted = json.loads(json.dumps(pinned))
    drifted["tables"]["3"]["distinct_text"] += 1
    with pytest.raises(data.FingerprintMismatch, match="generator changed"):
        data.check_fingerprint(oracle, table, 3, drifted)
    with pytest.raises(data.FingerprintMismatch, match="no pinned"):
        data.check_fingerprint(oracle, table, 4, pinned)
    resized = dict(pinned, params=dict(pinned["params"], n_turns=1))
    with pytest.raises(data.FingerprintMismatch, match="parameters"):
        data.check_fingerprint(oracle, table, 3, resized)


def test_pinned_fingerprints_cover_every_table():
    pinned = data.pinned_fingerprints()
    assert pinned["params"] == data._params()
    assert sorted(map(int, pinned["tables"])) == list(range(data.TABLES))
    for fp in pinned["tables"].values():
        assert fp["rows"] == data.N_TURNS and fp["files"] == data.N_FILES


def test_oracle_matches_spark_exact(spark, table):
    from pyspark.sql import functions as F

    oracle, _ = data.exact_answers(table)
    df = spark.read.parquet(table)
    (convs, texts), = df.select(F.countDistinct("conv_id"),
                                F.countDistinct("text")).collect()
    assert (convs, texts) == (oracle["fingerprint"]["distinct_conv_id"],
                              oracle["fingerprint"]["distinct_text"])
    sliced = workloads._slice(df).groupBy("conv_id").agg(
        F.countDistinct("text")).collect()
    assert sorted(map(list, sliced)) == oracle["slice_texts_by_conv"]


def test_rank_error():
    vals = np.array([1, 2, 3, 4])
    cum = np.array([1, 3, 6, 10])      # 1 x1, 2 x2, 3 x3, 4 x4
    assert workloads.rank_error(vals, cum, 0.5, 3) == 0.0   # ranks .3-.6
    assert workloads.rank_error(vals, cum, 0.7, 3) == pytest.approx(0.1)
    assert workloads.rank_error(vals, None, 0.5, 2.4, tol=0.5) == 0.0


def test_hll_check_allows_collisions_only():
    errs = workloads.Errors()
    workloads.check_hll(errs, 27, 29, "two collisions")
    with pytest.raises(workloads.WrongAnswer):
        workloads.check_hll(errs, 20, 29, "nine lost keys")
    with pytest.raises(workloads.WrongAnswer):
        workloads.check_hll(errs, 106_000, 100_000, "6 percent off")
    assert errs.rel[0] == pytest.approx(2 / 29)


def test_every_workload_fills_every_slot():
    # a gated q<k>_s must be measured on every workload, never reported 0
    for wl in workloads.WORKLOADS.values():
        assert sorted({op.slot for op in wl.ops}) == list(
            range(1, run.SLOTS + 1)), wl.name
        assert len({op.name for op in wl.ops}) == len(wl.ops)


def _bench():
    with open(os.path.join(data.HERE, os.pardir, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names():
    bench = _bench()
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    wl = [w["name"] for w in bench["workloads"]]
    for name in e2e + layer + wl:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert e2e == list(run.E2E_UNITS)
    assert sorted(wl) == sorted(workloads.WORKLOADS)
    setup = dict.fromkeys(["session.start_s", "session.list_s",
                           "session.warm_s", "setup_s"], 1.0)
    from perfbench import kernels

    report = run.per_layer({"passes": []}, setup,
                           dict.fromkeys(kernels.KERNEL_METRICS, 1.0))
    report["trace.spans"] = (0, "count")
    assert sorted(layer) == sorted(report)
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert units == {k: u for k, (_, u) in report.items()}
