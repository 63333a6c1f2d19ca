"""Layer measurements taken from outside the library.

Nothing here reaches into ``hyperloglog_spark``: after each action the
benchmark reads Spark's executed plan (SQL metrics survive ``collect()``
with the UI off once AdaptiveSparkPlan and query-stage wrappers are
unwrapped) and the status store's job and stage records, and it samples
resident memory from ``/proc``.
"""

from __future__ import annotations

import os
import threading

# plan node class -> {SQL metric: per-layer metric it adds to}
_PLAN_METRICS = {
    # filesSize: bytes of the files the scan read (Spark's stage
    # inputBytes undercounts vectorized parquet reads)
    "FileSourceScanExec": {"scanTime": "scan.ms", "filesSize": "scan.bytes"},
    "WholeStageCodegenExec": {"pipelineTime": "codegen.ms"},
    "HashAggregateExec": {"aggTime": "jvm_agg.ms",
                          "numOutputRows": "jvm_agg.rows_out"},
    "ShuffleExchangeExec": {"shuffleBytesWritten": "shuffle.bytes",
                            "shuffleRecordsWritten": "shuffle.records",
                            "shuffleWriteTime": "shuffle.write_ms"},
    "SortExec": {"sortTime": "sort.ms", "peakMemory": "sort.peak_bytes"},
}
_PYTHON_METRICS = ("pythonDataSent", "pythonDataReceived", "pythonTotalTime",
                   "pythonNumRowsReceived", "pythonInitTime", "pythonBootTime")
# engine.aggregate phase 1 is the mapInArrow partial build; phase 2 is the
# per-group applyInPandas merge plus the pandas-UDF finalize
_PYTHON_PHASE = {"MapInArrowExec": "aggregate.phase1",
                 "FlatMapGroupsInPandasExec": "aggregate.phase2",
                 "ArrowEvalPythonExec": "aggregate.phase2"}
_NS_METRICS = {"shuffle.write_ms"}
_MAX_METRICS = {"sort.peak_bytes"}

PLAN_LAYER_METRICS = sorted(
    {m for ms in _PLAN_METRICS.values() for m in ms.values()}
    | {"arrow.bytes_in", "arrow.bytes_out", "python.init_ms",
       "shuffle.exchanges", "aggregate.phase1.python_ms",
       "aggregate.phase1.partials", "aggregate.phase2.python_ms",
       "aggregate.phase2.groups", "aggregate.phase2.bytes_in"})


def _plan_nodes(jplan):
    """Yield (class name, node) over an executed plan, unwrapping
    AdaptiveSparkPlanExec and *QueryStageExec so the nodes that ran (and
    carry the metrics) are visited, each once."""
    stack, seen = [jplan], set()
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        ident = node.id()
        if ident in seen:
            continue
        seen.add(ident)
        yield cls, node
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())


def _read(node, names) -> dict[str, float]:
    metrics = node.metrics()
    out = {}
    for name in names:
        m = metrics.get(name)
        if m.isDefined():
            out[name] = float(m.get().value())
    return out


def plan_layers(df) -> dict[str, float]:
    """Per-layer SQL metrics of an executed DataFrame, summed over its
    plan nodes (``sort.peak_bytes`` takes the largest sort)."""
    out = dict.fromkeys(PLAN_LAYER_METRICS, 0.0)
    for cls, node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if cls == "ShuffleExchangeExec":
            out["shuffle.exchanges"] += 1
        phase = _PYTHON_PHASE.get(cls)
        if phase:
            py = _read(node, _PYTHON_METRICS)

            def v(name):
                return py.get(name, 0.0)

            out["arrow.bytes_in"] += v("pythonDataSent")
            out["arrow.bytes_out"] += v("pythonDataReceived")
            out["python.init_ms"] += v("pythonInitTime") + v("pythonBootTime")
            out[f"{phase}.python_ms"] += v("pythonTotalTime")
            if phase == "aggregate.phase1":
                out["aggregate.phase1.partials"] += v("pythonNumRowsReceived")
            elif cls == "FlatMapGroupsInPandasExec":
                out["aggregate.phase2.groups"] += v("pythonNumRowsReceived")
                out["aggregate.phase2.bytes_in"] += v("pythonDataSent")
            continue
        names = _PLAN_METRICS.get(cls, {})
        for sql, val in _read(node, names).items():
            layer = names[sql]
            if layer in _NS_METRICS:
                val /= 1e6
            if layer in _MAX_METRICS:
                out[layer] = max(out[layer], val)
            else:
                out[layer] += val
    return out


def _epoch_ms(opt_date) -> float | None:
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


def job_records(spark, group: str) -> list[dict]:
    """Status-store records of every job run under job group ``group``,
    each with its stages' task metrics. Works with the UI off."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        stages = []
        it = job.stageIds().iterator()
        while it.hasNext():
            st = store.lastStageAttempt(it.next())
            stages.append({
                "stage_id": st.stageId(),
                "status": st.status().toString(),
                "start_ms": _epoch_ms(st.submissionTime()),
                "end_ms": _epoch_ms(st.completionTime()),
                "tasks": st.numCompleteTasks(),
                "failed_tasks": st.numFailedTasks(),
                "run_ms": st.executorRunTime(),
                "cpu_ms": st.executorCpuTime() / 1e6,
                "gc_ms": st.jvmGcTime(),
                "input_records": st.inputRecords(),
                "fetch_wait_ms": st.shuffleFetchWaitTime(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "peak_mem_bytes": st.peakExecutionMemory(),
            })
        jobs.append({"job_id": jid, "start_ms": _epoch_ms(job.submissionTime()),
                     "end_ms": _epoch_ms(job.completionTime()),
                     "stages": stages})
    return jobs


STAGE_LAYER_METRICS = ["scan.rows", "stage.cpu_ms",
                       "stage.failed_tasks", "stage.fetch_wait_ms",
                       "stage.gc_ms", "stage.peak_mem_bytes", "stage.run_ms",
                       "stage.spill_bytes", "stage.tasks"]


def stage_layers(jobs: list[dict]) -> dict[str, float]:
    """Stage totals of one action's jobs (stages that ran, not skipped)."""
    out = dict.fromkeys(STAGE_LAYER_METRICS, 0.0)
    for job in jobs:
        for st in job["stages"]:
            out["scan.rows"] += st["input_records"]
            for k in ("cpu_ms", "failed_tasks", "fetch_wait_ms", "gc_ms",
                      "run_ms", "spill_bytes", "tasks"):
                out[f"stage.{k}"] += st[k]
            out["stage.peak_mem_bytes"] = max(out["stage.peak_mem_bytes"],
                                              st["peak_mem_bytes"])
    return out


def covered_ms(jobs: list[dict], start_ms: float, end_ms: float) -> float:
    """Length of [start_ms, end_ms] covered by at least one stage."""
    spans = sorted(
        (max(s["start_ms"], start_ms), min(s["end_ms"], end_ms))
        for j in jobs for s in j["stages"]
        if s["start_ms"] is not None and s["end_ms"] is not None)
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in spans:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans kept in memory: query (benchmark) -> Spark job -> stage, with
    the plan counts on the query span and task counts on stage spans."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def _add(self, name, parent, trace, start_ms, end_ms, attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "trace": trace,
                           "name": name, "start_ms": start_ms,
                           "end_ms": end_ms, "attrs": attrs})
        return sid

    def query(self, trace: str, name: str, start_ms: float, end_ms: float,
              plan: dict, jobs: list[dict]) -> None:
        qid = self._add(f"query:{name}", None, trace, start_ms, end_ms, plan)
        for job in jobs:
            jid = self._add(f"job:{job['job_id']}", qid, trace,
                            job["start_ms"], job["end_ms"], {})
            for st in job["stages"]:
                attrs = {k: v for k, v in st.items()
                         if k not in ("start_ms", "end_ms")}
                self._add(f"stage:{st['stage_id']}", jid, trace,
                          st["start_ms"], st["end_ms"], attrs)


def process_tree() -> set[int]:
    """This process and all its live descendants."""
    root = os.getpid()
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    tree, frontier = {root}, [root]
    while frontier:
        for c in children.get(frontier.pop(), []):
            if c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of this process tree (driver, JVM, Python
    workers), sampled from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes(process_tree()))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
