"""Readers for Spark's own bookkeeping, used from outside the program.

Everything here reads the status stores Spark keeps even with the UI
off (`spark.ui.enabled=false`): the core store for jobs and stage task
metrics, attributed to the caller through job groups, and the SQL store
for the SQL metrics of the executed (AQE-final) plans.
"""

from __future__ import annotations

import re
import statistics

# stage task metrics summed per workload: (metric name, StageData getter, scale)
STAGE_COUNTERS = (
    ("spark.executor_run_s", "executorRunTime", 1e-3),
    ("spark.executor_cpu_s", "executorCpuTime", 1e-9),
    ("spark.gc_s", "jvmGcTime", 1e-3),
    ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spark.shuffle_read_records", "shuffleReadRecords", 1),
    ("spark.input_bytes", "inputBytes", 1),
)
# nodes that run Python workers, and the SQL metrics read from them
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandasWithState",
                "FlatMapGroupsInPandas", "BatchEvalPython", "MapInArrow",
                "ArrowWindowPython", "AggregateInPandas", "FlatMapCoGroupsInPandas",
                "TransformWithStateInPandas")
PYTHON_METRICS = {"time to run Python workers": "python.worker_run_s",
                  "data sent to Python workers": "python.data_sent_bytes"}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^([0-9.,]+)\s*([A-Za-z]*)")


def scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('9.4 s', '783.3 KiB', '1,000', or the
    'total (min, med, max ...)' two-line form) as a number in s / B."""
    lines = text.strip().splitlines()
    m = _VALUE.match(lines[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def job_counters(spark, groups: set[str]) -> dict[str, float]:
    """Job, task and stage-metric totals over the jobs whose job group is
    in `groups` (each stage attempt counted once)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"spark.jobs": 0, "spark.tasks": 0, "spark.spill_bytes": 0,
           "spark.peak_exec_memory_bytes": 0}
    out.update({name: 0 for name, _, _ in STAGE_COUNTERS})
    stages = set()
    for job in scala_iter(store.jobsList(None)):
        group = job.jobGroup()
        if not (group.isDefined() and group.get() in groups):
            continue
        out["spark.jobs"] += 1
        stages.update(scala_iter(job.stageIds()))
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - a skipped stage has no attempt
            continue
        out["spark.tasks"] += st.numCompleteTasks()
        out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["spark.peak_exec_memory_bytes"] = max(
            out["spark.peak_exec_memory_bytes"], st.peakExecutionMemory())
        for name, getter, scale in STAGE_COUNTERS:
            out[name] += getattr(st, getter)() * scale
    return out


def group_job_counts(spark) -> dict[str, int]:
    """Number of jobs per job group."""
    store = spark.sparkContext._jsc.sc().statusStore()
    counts: dict[str, int] = {}
    for job in scala_iter(store.jobsList(None)):
        group = job.jobGroup()
        if group.isDefined():
            counts[group.get()] = counts.get(group.get(), 0) + 1
    return counts


def python_counters(spark, since_ms: int) -> dict[str, float]:
    """Python-worker SQL metrics summed over every SQL execution submitted
    at or after `since_ms` (epoch ms)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
    for ex in scala_iter(store.executionsList()):
        if ex.submissionTime() < since_ms:
            continue
        values = store.executionMetrics(ex.executionId())
        for node in scala_iter(store.planGraph(ex.executionId()).allNodes()):
            if node.name() not in PYTHON_NODES:
                continue
            for metric in scala_iter(node.metrics()):
                key = PYTHON_METRICS.get(metric.name())
                v = values.get(metric.accumulatorId())
                if key and v.isDefined():
                    out[key] += parse_metric(v.get())
    return out


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def quantile(values, q: float) -> float:
    """The q-quantile (0 < q < 1) with linear interpolation; a single
    value is its own quantile."""
    values = sorted(values)
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]
