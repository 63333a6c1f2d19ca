"""Closed-loop sketch benchmark over a pinned transcripts table.

    python3 perfbench/run.py --workload scan_global --seed 1 --seconds 24 --trace 0

One driver process issues one query at a time against local[4] with four
shuffle partitions, over the table pinned for the seed (data.py). After
set-up it runs passes over the workload's queries while the next one is
expected to end within ``--seconds`` (and at least MIN_PASSES) and checks
every answer. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics of BENCHMARK.json with ``--trace 0`` (``q1_s`` .. ``q3_s`` are the
median walls of the workload's three query groups, see workloads.py), its
per-layer metrics with ``--trace 1``. The line before it reports every
metric the workload has, by name and unit, and in a traced run each
query's own layer figures. A traced run reads Spark's plan and stage
metrics after every query, keeps spans (query -> Spark job -> stage) in
memory and writes them to perfbench/.cache/traces/ at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
MIN_PASSES = 3   # median per query over at least three measured passes
WARM_FILES = 4   # the warm-up pass reads this many of the table's files
SLOTS = 3        # gated walls q1_s .. q3_s of query groups (Op.slot)

# the gated end-to-end metrics (BENCHMARK.json); the named per-query
# walls, peak_rss_mb and the accuracy figures are reported beside them
E2E_UNITS = {"setup_s": "s", "turns_per_s": "1/s",
             **{f"q{k}_s": "s" for k in range(1, SLOTS + 1)}}


def cpu_ticks() -> list[int]:
    """Aggregate CPU time counters of the host (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_facts(spark, ticks0: list[int]) -> dict:
    """What a run's figures depend on besides the code: record with every
    run, and compare runs only across equal facts. ``steal_share`` is the
    share of CPU time the hypervisor gave to other guests while measuring
    (``ticks0`` taken at the start)."""
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    delta = [b - a for a, b in zip(ticks0, cpu_ticks())]
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2 ** 20, 1),
            "spark": spark.version, "python": sys.version.split()[0],
            "load_avg": os.getloadavg(),
            "steal_share": delta[7] / max(sum(delta), 1)}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _sandbox(cache: str) -> dict:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout: temp files, shuffle blocks and the shipped package zip."""
    tmp = os.path.join(cache, "tmp")
    local = os.path.join(cache, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts   # spark-class's launcher JVM
    tempfile.tempdir = None
    return {"spark.local.dir": local,
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": jvm_opts}


def _attempt(res: dict, what: str, fn) -> None:
    res["attempted"] += 1
    try:
        fn()
    except Exception:
        res["failed"] += 1
        log(f"{what} raised:\n{traceback.format_exc()}")


def warm_subset(path: str, work: str) -> str:
    """A directory of hard links to the table's first WARM_FILES files."""
    warm = os.path.join(work, "warm")
    os.makedirs(warm)
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    for f in files[:WARM_FILES]:
        os.link(os.path.join(path, f), os.path.join(warm, f))
    return warm


def setup(conf: dict, ctx_for, path: str, warm_path: str, wl, res: dict):
    """Session start with package shipping, file listing, a warm-up, and
    the workload's reference answers. The warm-up is one untimed,
    unchecked pass of the workload over WARM_FILES of the table's files,
    so every query meets code generation, JIT and Python workers at full
    width once before it is timed. ``ctx_for(spark, path)`` makes the
    query context."""
    from hyperloglog_spark.engine.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS, extra_conf=conf)
    t1 = time.perf_counter()
    ctx = ctx_for(spark, path)
    ctx.df.inputFiles()
    t2 = time.perf_counter()
    warm = ctx_for(spark, warm_path)
    walls = {}
    for op in wl.ops:
        t = time.perf_counter()
        _attempt(res, f"warm-up {op.name}", lambda: op.run(warm))
        walls[op.name] = time.perf_counter() - t
    if wl.references:
        t = time.perf_counter()
        _attempt(res, f"{wl.name} references",
                 lambda: wl.references(ctx))
        walls["references"] = time.perf_counter() - t
    log("warm-up: " + json.dumps(walls))
    t3 = time.perf_counter()
    return ctx, {"session.start_s": t1 - t0, "session.list_s": t2 - t1,
                 "session.warm_s": t3 - t2}


def stop_spark() -> None:
    """Stop the session if one started, then the JVM it was launched in,
    and wait for every process this run started to end."""
    from pyspark import SparkContext

    from perfbench.probe import process_tree

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while (left := process_tree() - {os.getpid()}) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        os.kill(pid, 9)


def run_pass(ctx, wl, tracer, qn: int, tracing: bool, res: dict) -> int:
    """One closed-loop pass over the workload's queries."""
    from perfbench import probe
    from perfbench.workloads import Errors, WrongAnswer

    sc = ctx.spark.sparkContext
    op_walls, op_layers = {}, {}
    for op in wl.ops:
        qn += 1
        group = f"perfbench-{qn}"
        sc.setJobGroup(group, op.name)
        res["attempted"] += 1
        start_ms = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            dfs, answer = op.run(ctx)
        except Exception:
            res["failed"] += 1
            log(f"{op.name} raised:\n{traceback.format_exc()}")
            continue
        wall = time.perf_counter() - t0
        op_walls[op.name] = wall
        if tracing:
            t_read = time.perf_counter()
            jobs = probe.job_records(ctx.spark, group)
            plan = {}
            for d in dfs:
                for k, v in probe.plan_layers(d).items():
                    plan[k] = plan.get(k, 0.0) + v
            tracer.query(group, op.name, start_ms, start_ms + wall * 1e3,
                         plan, jobs)
            got = {**plan, **probe.stage_layers(jobs),
                   "driver.ms": wall * 1e3 - probe.covered_ms(
                       jobs, start_ms, start_ms + wall * 1e3)}
            got["trace.overhead_s"] = time.perf_counter() - t_read
            if op.layers:
                got.update(op.layers(ctx, answer))
            op_layers[op.name] = got
        errs = Errors()
        try:
            op.check(ctx, answer, errs)
        except WrongAnswer as e:
            res["failed"] += 1
            log(f"{op.name} wrong: {e}")
        except Exception:
            res["failed"] += 1
            log(f"{op.name} check raised:\n{traceback.format_exc()}")
        res["rel_err"].extend(errs.rel)
        res["rank_err"].extend(errs.rank)
    if len(op_walls) == len(wl.ops):
        layers = {}
        for got in op_layers.values():
            for k, v in got.items():
                layers[k] = layers.get(k, 0.0) + v
        res["passes"].append({"walls": op_walls, "layers": layers,
                              "op_layers": op_layers})
    return qn


def new_result() -> dict:
    return {"attempted": 0, "failed": 0, "rel_err": [], "rank_err": [],
            "passes": []}


def measure(ctx, wl, seconds: float, trace: bool, tracer, res: dict) -> None:
    """Passes until the next one would end after ``seconds`` (judged by
    the slowest pass so far), and at least MIN_PASSES."""
    qn, n, longest = 0, 0, 0.0
    t_start = time.perf_counter()
    while (n < MIN_PASSES
           or time.perf_counter() - t_start + longest <= seconds):
        t0 = time.perf_counter()
        qn = run_pass(ctx, wl, tracer, qn, trace, res)
        longest = max(longest, time.perf_counter() - t0)
        if res["passes"]:
            log(f"pass {n}: " + json.dumps(res["passes"][-1]["walls"]))
        n += 1


def median(xs):
    # 0 (not NaN, which is not JSON) when every pass failed; the result
    # line then says correct: false
    return statistics.median(xs) if xs else 0.0


def _summed_median(passes, ops) -> float:
    """Median over passes of the summed walls of ``ops``."""
    return median([sum(p["walls"][op.name] for op in ops) for p in passes])


def end_to_end(wl, res, setup, peak_rss) -> dict:
    from perfbench.data import N_TURNS

    passes = res["passes"]
    report = {"setup_s": (setup["setup_s"], "s")}
    scan_ops = [op for op in wl.ops if op.scans]
    turns = sum(op.scans * N_TURNS for p in passes for op in scan_ops)
    scan_wall = sum(p["walls"][op.name] for p in passes for op in scan_ops)
    report["turns_per_s"] = (turns / scan_wall if scan_wall else 0.0, "1/s")
    for k in range(1, SLOTS + 1):
        report[f"q{k}_s"] = (_summed_median(
            passes, [op for op in wl.ops if op.slot == k]), "s")
    for metric in dict.fromkeys(op.metric for op in wl.ops):
        report[metric] = (_summed_median(
            passes, [op for op in wl.ops if op.metric == metric]), "s")
    report["rel_err_max"] = (max(res["rel_err"], default=0.0), "ratio")
    report["rank_err_max"] = (max(res["rank_err"], default=0.0), "ratio")
    report["peak_rss_mb"] = (peak_rss / 2 ** 20, "MB")
    report["fail_share"] = (res["failed"] / max(res["attempted"], 1), "ratio")
    return report


def per_layer(res, setup, kernel_times) -> dict:
    from perfbench import kernels, probe

    traced = [p["layers"] for p in res["passes"]]
    names = set(probe.PLAN_LAYER_METRICS) | set(probe.STAGE_LAYER_METRICS)
    names |= {"driver.ms", "ckpt.batches", "ckpt.lineage_bytes",
              "ckpt.read_lineage_ms", "trace.overhead_s"}
    report = {k: median([t.get(k, 0.0) for t in traced]) for k in names}
    report["shuffle.rows_per_input_row"] = (
        report["shuffle.records"] / report["scan.rows"]
        if report["scan.rows"] else 0.0)
    report.update(kernel_times)
    for k in ("session.start_s", "session.list_s", "session.warm_s"):
        report[k] = setup[k]
    return {k: (v, kernels.KERNEL_METRICS.get(k) or _unit(k))
            for k, v in sorted(report.items())}


def per_query(wl, res) -> dict:
    """Traced run: each query's median wall and layer figures over the
    passes, to set each layer against the query it ran in."""
    passes = res["passes"]
    out = {}
    for op in wl.ops:
        names = set().union(*(p["op_layers"][op.name] for p in passes))
        out[op.name] = {"wall_s": median([p["walls"][op.name]
                                          for p in passes])}
        out[op.name].update({k: median([p["op_layers"][op.name].get(k, 0.0)
                                        for p in passes])
                             for k in sorted(names)})
    return out


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_ms") or last == "ms":
        return "ms"
    if last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "bytes"
    if last == "rows_per_input_row":
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hyperloglog_spark")):
        log(f"no hyperloglog_spark package beside {HERE}: nothing to measure")
        return 2
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p) != HERE]
    from perfbench import data, kernels, probe, workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    conf = _sandbox(data.CACHE_DIR)
    t0 = time.perf_counter()
    path, oracle, latency_us = data.prepare(args.seed)
    prepare_s = time.perf_counter() - t0
    log(f"input ready in {prepare_s:.1f} s")
    work = os.path.join(data.CACHE_DIR, "work")
    shutil.rmtree(work, ignore_errors=True)
    sorted_us = np.sort(latency_us)

    def ctx_for(spark, table):
        return workloads.Ctx(spark, spark.read.parquet(table), table, oracle,
                             sorted_us, work)

    tracer = probe.Tracer()
    try:
        with probe.RssSampler() as rss:
            res = new_result()
            ctx, setup_s = setup(conf, ctx_for, path,
                                 warm_subset(path, work), wl, res)
            spark = ctx.spark
            # from process start, less the input preparation (table
            # generation and its exact answers are cached per table)
            setup_s["setup_s"] = time.perf_counter() - T_START - prepare_s
            log("set-up: " + json.dumps(setup_s))
            ticks0 = cpu_ticks()
            measure(ctx, wl, args.seconds, bool(args.trace), tracer, res)
            kernel_times = (kernels.time_kernels(ctx.df, latency_us / 1e6)
                            if args.trace else {})
            host = host_facts(spark, ticks0)
        if args.trace:
            report = per_layer(res, setup_s, kernel_times)
            report["trace.spans"] = (len(tracer.spans), "count")
            out_dir = os.path.join(data.CACHE_DIR, "traces")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(
                    out_dir, f"{wl.name}-seed{args.seed}.json"), "w") as f:
                json.dump({"workload": wl.name, "seed": args.seed,
                           "spans": tracer.spans}, f)
        else:
            report = end_to_end(wl, res, setup_s, rss.peak)
    finally:
        stop_spark()
    shutil.rmtree(work, ignore_errors=True)

    log(f"run took {time.perf_counter() - T_START:.1f} s")
    names = list(E2E_UNITS) if not args.trace else sorted(report)
    info = {"workload": wl.name, "seed": args.seed,
            "table_seed": data.table_seed(args.seed),
            "passes": len(res["passes"]), "host": host,
            "report": {k: {"value": v, "unit": u}
                       for k, (v, u) in report.items()}}
    if args.trace and res["passes"]:
        info["per_query"] = per_query(wl, res)
    print(json.dumps(info))
    print(json.dumps({
        "correct": res["failed"] == 0 and len(res["passes"]) >= MIN_PASSES,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": report[k][0], "unit": report[k][1]}
                    for k in names}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
