"""Measurement primitives shared by the workloads: order statistics,
in-memory spans with self time, metric-name checks, process-tree CPU
from /proc, and Spark's REST status API aggregated per job group."""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# A tail percentile is only reported when at least this many samples lie
# beyond it; fewer and the value is set by one or two outliers.
MIN_TAIL_SAMPLES = 10


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"invalid metric name {name!r}")
    return name


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def geomean(values) -> float:
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return statistics.geometric_mean(values)


def percentile(values, p: float) -> float:
    """The p-th percentile (nearest rank), refused when fewer than
    MIN_TAIL_SAMPLES samples lie beyond it."""
    values = sorted(values)
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    beyond = len(values) * (100 - p) / 100
    if beyond < MIN_TAIL_SAMPLES:
        raise ValueError(
            f"p{p:g} of {len(values)} samples has {beyond:g} beyond it;"
            f" need {MIN_TAIL_SAMPLES}"
        )
    rank = -(-len(values) * p // 100)  # ceil
    return values[int(rank) - 1]


# -- spans -----------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes ``span`` a no-op so
    the untraced run pays nothing but a context-manager call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.run_id, attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that child spans cover
    (overlapping children are merged, and clipped to the parent)."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        a, b = max(c.start, span.start), min(c.end, span.end)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (span.end - span.start) - covered


def layer_self_times(tracer: Tracer) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in tracer.spans:
        out[s.layer] = out.get(s.layer, 0.0) + self_time(s, tracer.children(s))
    return out


# -- process-tree CPU --------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited while we looked
        return None
    # comm (field 2) may hold spaces; every later field follows its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU of ``root`` and its live descendants, including
    children they have already reaped (the JVM and Python workers)."""
    root = root or os.getpid()
    total = 0
    for pid in [root, *descendants(root)]:
        f = _stat_fields(str(pid))
        if f is not None:
            # utime, stime, cutime, cstime: fields 14-17 of stat
            total += sum(int(x) for x in f[11:15])
    return total / _CLK_TCK


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def host_probe_s() -> float:
    """Seconds one core takes for a fixed pure-Python loop. On a host
    shared with other tenants it shows how fast the CPUs ran around a
    run, which the load average of this machine does not."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


# -- Spark REST status API -----------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def parse_sql_metric(value: str) -> float:
    """Numeric value of a SQL UI metric string: '10,000', '1.8 s',
    '215.9 KiB', or a per-task summary whose second line starts with the
    total ('total (min, med, max ...)\\n1.8 s (0.2 s, ...)')."""
    if "\n" in value:
        value = value.split("\n", 1)[1]
    tok = value.split()
    num = float(tok[0].replace(",", ""))
    if len(tok) > 1 and tok[1] in _UNITS:
        num *= _UNITS[tok[1]]
    return num


# Execution metrics summed per job group, with their units.
EXEC_FIELDS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_s": "s",
    "task_cpu_s": "s", "shuffle_write_bytes": "B", "shuffle_read_bytes": "B",
    "spill_bytes": "B", "python_worker_s": "s",
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    python_worker_s: float = 0.0
    scan_rows: float = 0.0
    files_read: float = 0.0


def rest_group_stats(spark) -> dict[str, GroupStats]:
    """Per job group: jobs, stages, tasks and their task metrics, plus
    the SQL operator metrics (Python-worker run time, Parquet scan rows
    and files read) of the executions that ran those jobs."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.loads(r.read().decode("utf-8"))

    stages: dict[int, list[dict]] = {}
    for st in get("/stages"):
        stages.setdefault(st["stageId"], []).append(st)
    group_of_job: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for job in get("/jobs"):
        group = job.get("jobGroup")
        if group is None:
            continue
        group_of_job[job["jobId"]] = group
        g = out.setdefault(group, GroupStats())
        g.jobs += 1
        for sid in job["stageIds"]:
            for att in stages.get(sid, ()):
                if att["status"] == "SKIPPED":
                    continue
                g.stages += 1
                g.tasks += att["numCompleteTasks"]
                g.task_s += att["executorRunTime"] / 1e3
                g.task_cpu_s += att["executorCpuTime"] / 1e9
                g.shuffle_write_bytes += att["shuffleWriteBytes"]
                g.shuffle_read_bytes += att["shuffleReadBytes"]
                g.spill_bytes += att["diskBytesSpilled"]
    for ex in get("/sql?details=true&planDescription=false&length=1000000"):
        job_ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        groups = {group_of_job[j] for j in job_ids if j in group_of_job}
        if len(groups) != 1:
            continue
        g = out[groups.pop()]
        for node in ex.get("nodes", ()):
            for m in node.get("metrics", ()):
                if m["name"] == "time to run Python workers":
                    g.python_worker_s += parse_sql_metric(m["value"])
                elif node["nodeName"].startswith("Scan parquet"):
                    if m["name"] == "number of output rows":
                        g.scan_rows += parse_sql_metric(m["value"])
                    elif m["name"] == "number of files read":
                        g.files_read += parse_sql_metric(m["value"])
    return out


# Session confs for a traced run: the REST API needs the UI server, and
# its stores must retain every job, stage and execution of the run.
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}
