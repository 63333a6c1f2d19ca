"""The two workloads, their queries, and the check of every answer.

Each query is one call into the library's public API followed by an
action; its answer is checked against the exact answers DuckDB computed
for the same table (see data.py). A wrong answer raises WrongAnswer.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hyperloglog_spark import (approx_distinct, bloom_build,
                               hll_rollup, hll_sketch_agg, kll_agg,
                               quantiles_rollup)
from hyperloglog_spark import transcripts
from hyperloglog_spark.engine.checkpoint import (read_lineage,
                                                 resumable_sketch_build)
from hyperloglog_spark.functions import HllAggregator
from hyperloglog_spark.quantiles import KllAggregator
from hyperloglog_spark.sketch import bloom, cms, hll

from . import data

P = hll.DEFAULT_P
# quantile ranks -> the output columns approx_quantiles names them by
QS = {0.5: "q5", 0.9: "q9", 0.99: "q99"}
# an HLL answer is wrong when it is further from exact than this multiple
# of the published 1.04/sqrt(m) standard error (5 sigma: a correct sketch
# fails one group in ~2 million) plus HLL_COLLISIONS. The relative bound
# is asymptotic: a group of a few dozen keys lands in distinct registers
# only up to birthday collisions (Poisson, mean n^2/2m), each of which
# costs one key, and 5 or more collisions at n = 30, p = 14 has
# probability ~1e-10
HLL_MULTIPLE = 5
HLL_BOUND = HLL_MULTIPLE * hll.error_bound(P)
HLL_COLLISIONS = 4
KLL_RANK_EPS = KllAggregator().rank_eps()
# t-digest has no worst-case rank bound; 2/delta (delta = 100) is twice
# the largest centroid's share of the rank in the middle of the digest
TDIGEST_RANK_EPS = 0.02
BLOOM_ITEMS = 1 << 16      # expected_items of the Bloom build (> #conv_id)
BLOOM_FILL_TOL = 0.005     # |fill - 1 + exp(-k D / m)| for D distinct keys
SHARD_KEYS = ["day", "role", "tool"]


class WrongAnswer(Exception):
    pass


@dataclass
class Errors:
    rel: list[float] = field(default_factory=list)
    rank: list[float] = field(default_factory=list)


@dataclass
class Ctx:
    spark: Any
    df: Any             # the workload table
    path: str
    oracle: dict
    latency_us: np.ndarray   # sorted exact per-turn latencies
    work_dir: str
    state: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    metric: str       # reported metric: median over passes of the summed
                      # walls of the workload's ops that carry it
    slot: int         # gated metric q<slot>_s, summed the same way
    run: Callable[[Ctx], tuple[list, Any]]      # -> (DataFrames run, answer)
    check: Callable[[Ctx, Any, Errors], None]
    scans: int = 1                              # full table reads per call
    layers: Callable[[Ctx, Any], dict] | None = None   # traced-run counts


@dataclass
class Workload:
    """Why each workload exists: NOTES.md and BENCHMARK.json."""
    name: str
    ops: list[Op]
    # answers the checks need that the oracle does not hold; computed in
    # set-up, after the warm-up, on every run
    references: Callable[[Ctx], None] | None = None


# ---------------------------------------------------------------- checks


def check_hll(errs: Errors, est: int, exact: int, what: str) -> None:
    err = abs(est - exact) / exact
    errs.rel.append(err)
    if abs(est - exact) > HLL_BOUND * exact + HLL_COLLISIONS:
        raise WrongAnswer(f"{what}: estimate {est}, exact {exact}, "
                          f"relative error {err:.5f} > {HLL_BOUND:.5f} "
                          f"+ {HLL_COLLISIONS} collisions")


def check_hll_groups(errs: Errors, est: dict, exact: dict, what: str) -> None:
    if set(est) != set(exact):
        raise WrongAnswer(f"{what}: {len(est)} groups, exact has "
                          f"{len(exact)} (first differences: "
                          f"{sorted(set(est) ^ set(exact), key=str)[:3]})")
    for k, e in exact.items():
        check_hll(errs, est[k], e, f"{what}[{k}]")


def rank_error(sorted_vals: np.ndarray, counts_cum: np.ndarray | None,
               q: float, v: float, tol: float = 0.0) -> float:
    """Distance of rank q from the exact rank interval of answer v:
    [#(x < v), #(x <= v)] / n. ``counts_cum`` is the cumulative count of a
    histogram over ``sorted_vals`` (None: one row per value). ``tol``
    absorbs floating-point error in answers over integer data."""
    lo_i = np.searchsorted(sorted_vals, v - tol, "left")
    hi_i = np.searchsorted(sorted_vals, v + tol, "right")
    if counts_cum is None:
        n, lo, hi = len(sorted_vals), lo_i, hi_i
    else:
        n = counts_cum[-1]
        lo = counts_cum[lo_i - 1] if lo_i else 0
        hi = counts_cum[hi_i - 1] if hi_i else 0
    return max(0.0, lo / n - q, q - hi / n)


def check_quantiles(errs: Errors, row: dict, sorted_vals, counts_cum,
                    eps: float, what: str, tol: float = 0.0) -> None:
    for q, col in QS.items():
        v = row[col]
        if v is None:
            raise WrongAnswer(f"{what}: no value at rank {q}")
        err = rank_error(sorted_vals, counts_cum, q, v, tol)
        errs.rank.append(err)
        if err > eps:
            raise WrongAnswer(f"{what}: value {v} at rank {q} is off by "
                              f"{err:.5f} in rank > {eps:.5f}")


def length_hist(oracle: dict, role: str | None = None):
    """(sorted lengths, cumulative counts) of text length, for one role or
    all."""
    acc: dict[int, int] = {}
    for r, n, c in oracle["length_hist_by_role"]:
        if role is None or r == role:
            acc[n] = acc.get(n, 0) + c
    vals = np.array(sorted(acc))
    return vals, np.cumsum([acc[v] for v in vals])


def _fp(ctx: Ctx, key: str) -> int:
    return ctx.oracle["fingerprint"][key]


# ------------------------------------------------------------ scan_global


def _hll_arrow(ctx):
    d = approx_distinct(ctx.df, "conv_id")
    return [d], d.collect()[0][0]


def _check_hll_arrow(ctx, est, errs):
    ctx.state["hll_arrow"] = est
    check_hll(errs, est, _fp(ctx, "distinct_conv_id"), "distinct conv_id")


def _hll_jvm(ctx):
    d = approx_distinct(ctx.df, "conv_id", engine="jvm")
    return [d], d.collect()[0][0]


def _check_hll_jvm(ctx, est, errs):
    check_hll(errs, est, _fp(ctx, "distinct_conv_id"), "distinct conv_id")
    arrow = ctx.state.get("hll_arrow")
    if arrow is not None and arrow != est:
        raise WrongAnswer(f"jvm engine estimate {est} != arrow {arrow}")


def _kll(ctx):
    d = transcripts.turn_length_quantiles(ctx.df, qs=list(QS))
    return [d], d.collect()[0].asDict()


def _check_kll(ctx, row, errs):
    vals, cum = length_hist(ctx.oracle)
    check_quantiles(errs, row, vals, cum, KLL_RANK_EPS, "turn length")


def _cms(ctx):
    d = transcripts.heavy_hitter_tools(ctx.df, k=10)
    return [d], [(r[0], r[1]) for r in d.collect()]


def _check_cms(ctx, top, errs):
    counts = {t: c for t, c in ctx.oracle["tool_counts"]}
    exact = sorted(counts, key=lambda t: (-counts[t], t))[:10]
    if [t for t, _ in top] != exact:
        raise WrongAnswer(f"top-10 tools {[t for t, _ in top]} != {exact}")
    slack = np.e / (1 << cms.DEFAULT_LOG2_W) * sum(counts.values())
    for t, c in top:
        if not counts[t] <= c <= counts[t] + slack:
            raise WrongAnswer(f"tool {t}: count {c}, exact {counts[t]}")


def _bloom(ctx):
    return [], bloom_build(ctx.df, "conv_id", expected_items=BLOOM_ITEMS)


def _check_bloom(ctx, sk, errs):
    m_bits, k, n = bloom.params(sk)
    if n != _fp(ctx, "rows"):
        raise WrongAnswer(f"bloom holds {n} insertions, table has "
                          f"{_fp(ctx, 'rows')} rows")
    want = 1 - np.exp(-k * _fp(ctx, "distinct_conv_id") / m_bits)
    if abs(bloom.fill_ratio(sk) - want) > BLOOM_FILL_TOL:
        raise WrongAnswer(f"bloom fill {bloom.fill_ratio(sk):.4f}, expected "
                          f"{want:.4f} for the exact distinct conv_id")


def _tdigest(ctx):
    d = transcripts.latency_quantiles(ctx.df, qs=list(QS))
    return [d], d.collect()[0].asDict()


def _check_tdigest(ctx, row, errs):
    us = {k: v * 1e6 for k, v in row.items()}
    # latency is an integer number of microseconds; Spark subtracts two
    # epoch-second doubles, which is exact to about 0.25 us
    check_quantiles(errs, us, ctx.latency_us, None, TDIGEST_RANK_EPS,
                    "turn latency", tol=0.5)


def _ckpt_dir(ctx):
    return os.path.join(ctx.work_dir, "ckpt")


def _ckpt(ctx):
    shutil.rmtree(_ckpt_dir(ctx), ignore_errors=True)
    return [], resumable_sketch_build(ctx.spark, ctx.path, "conv_id",
                                      HllAggregator(p=P), _ckpt_dir(ctx))


def _check_ckpt(ctx, res, errs):
    # the pass's arrow HLL query is the direct build of the same sketch
    direct = ctx.state.get("hll_arrow")
    if res.estimate != direct:
        raise WrongAnswer(f"checkpointed estimate {res.estimate} != direct "
                          f"{direct}")
    if (res.rows, res.files_total) != (_fp(ctx, "rows"), _fp(ctx, "files")):
        raise WrongAnswer(f"checkpoint covered {res.rows} rows in "
                          f"{res.files_total} files")
    check_hll(errs, res.estimate, _fp(ctx, "distinct_conv_id"),
              "checkpointed conv_id")


def _ckpt_layers(ctx, res):
    t0 = time.perf_counter()
    read_lineage(_ckpt_dir(ctx))
    read_ms = (time.perf_counter() - t0) * 1e3
    lineage = res.lineage_path
    return {"ckpt.batches": res.batches,
            "ckpt.lineage_bytes": sum(
                os.path.getsize(os.path.join(lineage, f))
                for f in os.listdir(lineage)),
            "ckpt.read_lineage_ms": read_ms}


# ---------------------------------------------------------- grouped_store


def _hll_grouped(ctx):
    d = transcripts.distinct_texts_by_role_tool(ctx.df)
    return [d], {(r.role, r.tool): r.approx_texts for r in d.collect()}


def _check_hll_grouped(ctx, est, errs):
    exact = {(r, t): n for r, t, n in ctx.oracle["texts_by_role_tool"]}
    check_hll_groups(errs, est, exact, "distinct text by (role, tool)")


def _check_by_role(ctx, rows, errs):
    roles = {r for r, _ in ctx.oracle["convs_by_role"]}
    if set(rows) != roles:
        raise WrongAnswer(f"roles {sorted(rows)} != {sorted(roles)}")
    for role, row in rows.items():
        vals, cum = length_hist(ctx.oracle, role)
        check_quantiles(errs, row, vals, cum, KLL_RANK_EPS,
                        f"turn length of {role}")


def _slice(df):
    lo = dt.date.fromisoformat(data.SLICE_DAY)
    hi = lo + dt.timedelta(days=1)
    ts = F.col("ts")
    return df.filter((ts >= F.lit(str(lo)).cast("timestamp_ntz"))
                     & (ts < F.lit(str(hi)).cast("timestamp_ntz")))


def _many_groups(ctx):
    d = approx_distinct(_slice(ctx.df), "text", group_by="conv_id")
    return [d], {r[0]: r[1] for r in d.collect()}


def _check_many_groups(ctx, est, errs):
    exact = {c: n for c, n in ctx.oracle["slice_texts_by_conv"]}
    check_hll_groups(errs, est, exact, "distinct text by conv_id")


def _shard_dir(ctx, kind):
    return os.path.join(ctx.work_dir, f"{kind}_shards")


def _store(kind, agg, col):
    def run(ctx):
        base = ctx.df.select("conv_id", "role", "tool",
                             F.to_date("ts").alias("day"),
                             F.length("text").alias("turn_chars"))
        (agg(base, col, group_by=SHARD_KEYS)
         .write.mode("overwrite").parquet(_shard_dir(ctx, kind)))
        return [], None
    return run


def _check_store(kind):
    def check(ctx, _, errs):
        # row counts from the parquet footers: no Spark job between queries
        d = _shard_dir(ctx, kind)
        n = sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                for f in os.listdir(d) if f.endswith(".parquet"))
        if n != ctx.oracle["shard_groups"]:
            raise WrongAnswer(f"{n} stored {kind} shards, expected "
                              f"{ctx.oracle['shard_groups']}")
    return check


def _rollup(ctx):
    shards = ctx.spark.read.parquet(_shard_dir(ctx, "hll"))
    by_role = hll_rollup(shards, group_by="role")
    by_day = hll_rollup(shards, group_by="day")
    glob = hll_rollup(shards)
    qs = quantiles_rollup(ctx.spark.read.parquet(_shard_dir(ctx, "kll")), list(QS),
                          group_by="role")
    answer = ({r[0]: r[1] for r in by_role.collect()},
              {str(r[0]): r[1] for r in by_day.collect()},
              glob.collect()[0][0],
              {r.role: r.asDict() for r in qs.collect()})
    return [by_role, by_day, glob, qs], answer


def _check_rollup(ctx, answer, errs):
    by_role, by_day, glob, qs = answer
    st = ctx.state
    for what, est, direct in (("by role", by_role, st["direct_by_role"]),
                              ("by day", by_day, st["direct_by_day"]),
                              ("global", glob, st["direct_global"])):
        if est != direct:
            raise WrongAnswer(f"rollup {what} {est} != direct build {direct}")
    check_hll_groups(errs, by_role, dict(map(tuple, ctx.oracle["convs_by_role"])),
                     "rollup distinct conv_id by role")
    check_hll_groups(errs, by_day, dict(map(tuple, ctx.oracle["convs_by_day"])),
                     "rollup distinct conv_id by day")
    check_hll(errs, glob, _fp(ctx, "distinct_conv_id"), "rollup conv_id")
    _check_by_role(ctx, qs, errs)


def _direct_builds(ctx):
    """Estimates built straight from the table, which the rollups of
    stored sketches must reproduce exactly."""
    df = ctx.df.select("conv_id", "role", F.to_date("ts").alias("day"))
    ctx.state.update({
        "direct_by_role": {r[0]: r[1] for r in approx_distinct(
            df, "conv_id", group_by="role",
            expected_groups=4).collect()},
        "direct_by_day": {str(r[0]): r[1] for r in approx_distinct(
            df, "conv_id", group_by="day",
            expected_groups=64).collect()},
        "direct_global": approx_distinct(df, "conv_id").collect()[0][0]})


# Slots group the queries a layer change moves together, and keep the
# shard builds apart from the rollups that merge what they stored
WORKLOADS = {w.name: w for w in [
    Workload(
        "scan_global",
        [Op("hll_arrow", "hll_arrow_s", 1, _hll_arrow, _check_hll_arrow),
         Op("hll_jvm", "hll_jvm_s", 1, _hll_jvm, _check_hll_jvm),
         Op("kll", "kll_s", 2, _kll, _check_kll),
         Op("tdigest_latency", "tdigest_latency_s", 2, _tdigest,
            _check_tdigest),
         Op("cms_topk", "cms_topk_s", 3, _cms, _check_cms),
         Op("bloom", "bloom_s", 3, _bloom, _check_bloom),
         Op("ckpt", "ckpt_s", 3, _ckpt, _check_ckpt, layers=_ckpt_layers)]),
    Workload(
        "grouped_store",
        [Op("hll_grouped", "hll_grouped_s", 1, _hll_grouped,
            _check_hll_grouped),
         Op("hll_many_groups", "hll_many_groups_s", 1, _many_groups,
            _check_many_groups),
         Op("store_hll", "store_s", 2,
            _store("hll", hll_sketch_agg, "conv_id"), _check_store("hll")),
         Op("store_kll", "store_s", 2,
            _store("kll", kll_agg, "turn_chars"), _check_store("kll")),
         Op("rollup", "rollup_s", 3, _rollup, _check_rollup, scans=0)],
        references=_direct_builds),
]}
