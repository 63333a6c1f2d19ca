"""Sketch kernels timed directly on Arrow batches cut from the workload
table, at the batch size the session configures for the Arrow hop."""

from __future__ import annotations

import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from hyperloglog_spark.engine.session import ARROW_BATCH_ROWS
from hyperloglog_spark.functions import HllAggregator
from hyperloglog_spark.sketch import cms, hll, kll, tdigest

N_BATCHES = 8
MIN_SECONDS = 0.15   # per kernel: repeat calls at least this long
SPARSE_SKETCHES = 1024

KERNEL_METRICS = {
    "hll.group_from_registers.ns_per_row": "ns",
    "kll.update.ns_per_row": "ns",
    "cms.from_hashes.ns_per_row": "ns",
    "tdigest.update.ns_per_row": "ns",
    "hll.merge_many.sparse.us_per_sketch": "us",
    "hll.merge_many.dense.us_per_sketch": "us",
    "kll.merge_many.us_per_sketch": "us",
    "hll.estimate.us": "us",
    "kll.quantiles.us": "us",
}


def _per_call_s(fn) -> float:
    """Median seconds per call over calls repeated for MIN_SECONDS."""
    times = []
    start = time.perf_counter()
    while time.perf_counter() - start < MIN_SECONDS or len(times) < 3:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def batches(df) -> list[dict[str, np.ndarray]]:
    """N_BATCHES batches of kernel inputs, prepared by the same Spark
    expressions the library's aggregators use: packed (idx, sigma)
    registers of conv_id, xxhash64 of non-null tool, text length."""
    packed = HllAggregator(p=hll.DEFAULT_P).prepare_columns(df, ["conv_id"])[0]
    tbl = (df.select(packed.alias("reg"), "conv_id",
                     F.xxhash64("tool").alias("tool_h"),
                     F.col("tool").isNotNull().alias("has_tool"),
                     F.length("text").cast("double").alias("chars"))
           .limit(N_BATCHES * ARROW_BATCH_ROWS).toArrow())
    out = []
    for b in tbl.to_batches(max_chunksize=ARROW_BATCH_ROWS):
        reg = b.column("reg").to_numpy().astype(np.int64)
        has_tool = b.column("has_tool").to_numpy(zero_copy_only=False)
        convs = b.column("conv_id").to_pandas()
        out.append({
            "idx": reg >> 7,
            "sigma": (reg & 127).astype(np.uint8),
            "conv_codes": convs.factorize()[0].astype(np.int64),
            "tool_h": b.column("tool_h").to_numpy().view(np.uint64)[has_tool],
            "chars": b.column("chars").to_numpy(),
        })
    return out


def time_kernels(df, latency_s: np.ndarray) -> dict[str, float]:
    """Per-row and per-sketch kernel costs on real batches. ``latency_s``
    holds per-turn latencies of the same table."""
    bs = batches(df)
    b = bs[0]
    n = len(b["idx"])
    zeros = np.zeros(n, dtype=np.int64)
    lat = np.ascontiguousarray(latency_s[:ARROW_BATCH_ROWS], dtype=np.float64)
    out = {
        "hll.group_from_registers.ns_per_row": _per_call_s(
            lambda: hll.group_from_registers(zeros, b["idx"], b["sigma"], 1))
        / n * 1e9,
        "kll.update.ns_per_row": _per_call_s(
            lambda: kll.update(kll.empty(), b["chars"])) / n * 1e9,
        "cms.from_hashes.ns_per_row": _per_call_s(
            lambda: cms.from_hashes(b["tool_h"])) / len(b["tool_h"]) * 1e9,
        "tdigest.update.ns_per_row": _per_call_s(
            lambda: tdigest.update(tdigest.empty(), lat)) / len(lat) * 1e9,
    }
    n_convs = int(b["conv_codes"].max()) + 1
    sparse = hll.group_from_registers(b["conv_codes"], b["idx"], b["sigma"],
                                      n_convs)[:SPARSE_SKETCHES]
    dense = [hll.group_from_registers(np.zeros(len(x["idx"]), np.int64),
                                      x["idx"], x["sigma"], 1)[0] for x in bs]
    klls = [kll.from_values(x["chars"]) for x in bs]
    merged_hll = hll.merge_many(dense)
    merged_kll = kll.merge_many(klls)
    qs = [0.5, 0.9, 0.99]
    out.update({
        "hll.merge_many.sparse.us_per_sketch": _per_call_s(
            lambda: hll.merge_many(sparse)) / len(sparse) * 1e6,
        "hll.merge_many.dense.us_per_sketch": _per_call_s(
            lambda: hll.merge_many(dense)) / len(dense) * 1e6,
        "kll.merge_many.us_per_sketch": _per_call_s(
            lambda: kll.merge_many(klls)) / len(klls) * 1e6,
        "hll.estimate.us": _per_call_s(lambda: hll.estimate(merged_hll)) * 1e6,
        "kll.quantiles.us": _per_call_s(
            lambda: kll.quantiles(merged_kll, qs)) * 1e6,
    })
    return out
