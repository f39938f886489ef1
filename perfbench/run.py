#!/usr/bin/env python3
"""The repo benchmark: one single-client, closed-loop workload per run.

    python3 perfbench/run.py --workload tick-store --seed 1 --seconds 10 --trace 0

Runs on local[<cores>] with the core count ``nproc`` reports. Set-up
(JVM start, package ship, warm pass or tick history) is timed from
process start; then whole passes over the workload's operation list run
until ``--seconds`` have elapsed. Outputs are checked: analytics results
against their DuckDB oracles in set-up's first pass, every tick-store
read against the generated ticks. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run alternates untraced and traced passes in
one session, so it also reports the tracing overhead. Everything the
run writes goes under ``perfbench/out/`` and the temp part is removed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import core  # noqa: E402
from perfbench.analytics import SUITE, Analytics  # noqa: E402
from perfbench.ticks import OP_KINDS, TickStore  # noqa: E402

OUT_DIR = os.path.join(ROOT, "perfbench", "out")

WORKLOADS = {"tick-store": TickStore, "analytics": Analytics}

# name -> unit. Every workload reports every one of these: set-up time
# from process start; the median wall and process-tree CPU of one pass
# over the workload's operations (the query suite, or one tick-store
# round); the typical latency of one operation (a query built and run,
# or one TimeSeriesTable call): the geometric mean over operation kinds
# of each kind's median, so every query or call kind weighs the same and
# no single kind sets the value.
END_TO_END = {"setup_s": "s", "pass_wall_s": "s", "cpu_s": "s", "op_geomean_s": "s"}
LAYERS = ("bench", "plans", "exec", "tstable")


def per_layer() -> dict[str, tuple[str, str]]:
    """name -> (unit, better) for every per-layer metric, in output order."""
    m = {"session.start_s": ("s", "lower")}
    m["plans.construct_s"] = ("s", "lower")
    m["plans.construct_jobs"] = ("count", "lower")
    for q in SUITE:
        m[f"plans.construct_s.{q}"] = ("s", "lower")
    m["exec.execute_s"] = ("s", "lower")
    for q in SUITE:
        m[f"exec.execute_s.{q}"] = ("s", "lower")
    for f, unit in core.EXEC_FIELDS.items():
        m[f"exec.{f}"] = (unit, "lower")
    for kind in OP_KINDS:
        m[f"tstable.{kind}.p50_s"] = ("s", "lower")
        m[f"tstable.{kind}.jobs"] = ("count", "lower")
    m["tstable.append.task_s"] = ("s", "lower")
    for kind in ("read_narrow", "read_wide"):
        m[f"tstable.{kind}.construct_s"] = ("s", "lower")
        m[f"tstable.{kind}.collect_s"] = ("s", "lower")
        m[f"tstable.{kind}.scan_rows_per_result"] = ("ratio", "lower")
        m[f"tstable.{kind}.files_read"] = ("count", "lower")
    m["tstable.files"] = ("count", "lower")
    m["tstable.bytes"] = ("B", "lower")
    m["tstable.stored_bytes_per_row"] = ("B/row", "lower")
    for layer in LAYERS:
        m[f"trace.self_s.{layer}"] = ("s", "lower")
    for name in END_TO_END:
        if name != "setup_s":
            m[f"trace.overhead.{name}"] = (END_TO_END[name], "lower")
    return m


class Outcome:
    """What one loop did: pass walls and CPU, latencies of the operations
    that succeeded, and attempted/failed counts. In a traced loop every
    other pass is traced, and each sample carries that flag."""

    def __init__(self):
        self.passes: list[tuple[bool, float, float]] = []  # (traced, wall, cpu)
        self.ops: list[tuple[bool, str, float]] = []  # (traced, kind, wall)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.check_s = 0.0

    def run(self, tracer, span_name, kind, call, check):
        """Time ``call``; a raise or a failed ``check`` counts as failed
        and the run continues. The check is not timed."""
        self.attempted += 1
        with tracer.span(span_name, kind=kind) as span:
            t0 = time.perf_counter()
            try:
                result = call()
            except Exception as e:
                self.failed += 1
                self.problems.append(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
                return
            elapsed = time.perf_counter() - t0
        if span is not None and hasattr(result, "index"):
            span.attrs["rows"] = len(result)
        t0 = time.perf_counter()
        ok = check(result)
        self.check_s += time.perf_counter() - t0
        if ok:
            self.ops.append((tracer.enabled, kind, elapsed))
        else:
            self.failed += 1
            self.problems.append(f"{kind}: wrong result")

    def traced_passes(self) -> int:
        return sum(traced for traced, _, _ in self.passes)

    def end_to_end(self, traced: bool) -> dict[str, float]:
        passes = [(w, c) for t, w, c in self.passes if t == traced]
        return {
            "pass_wall_s": core.median(w for w, _ in passes),
            "cpu_s": core.median(c for _, c in passes),
            "op_geomean_s": core.geomean(
                core.median(w for t, k, w in self.ops if t == traced and k == kind)
                for kind in dict.fromkeys(k for t, k, _ in self.ops if t == traced)
            ),
        }


def measure(workload, spark, tracer, seconds: float) -> Outcome:
    """Whole passes until ``seconds`` have elapsed. With an enabled
    tracer, odd passes are traced and even ones not (at least one of
    each), so traced and untraced passes see the same warmth and the
    same table."""
    plain = core.Tracer(tracer.run_id, False)
    out = Outcome()
    t0 = time.perf_counter()
    while len(out.passes) < (2 if tracer.enabled else 1) or time.perf_counter() - t0 < seconds:
        n = len(out.passes)
        pass_tracer = tracer if tracer.enabled and n % 2 else plain
        p0, c0 = time.perf_counter(), core.tree_cpu_s()
        with pass_tracer.span("bench.pass"):
            workload.run_pass(spark, pass_tracer, n, out)
        if pass_tracer.enabled:  # later jobs must not join the last group
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        out.passes.append((pass_tracer.enabled, time.perf_counter() - p0, core.tree_cpu_s() - c0))
    return out


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process this
    run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (left := core.descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while core.descendants(os.getpid()):
        time.sleep(0.1)


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def source_sha1() -> str:
    """Digest of the engine's Python sources: names the code measured
    where the checkout carries no git metadata."""
    import hashlib

    import tstables_spark

    pkg = os.path.dirname(os.path.abspath(tstables_spark.__file__))
    h = hashlib.sha1()
    for rel in sorted(
        os.path.relpath(os.path.join(d, f), pkg)
        for d, _, files in os.walk(pkg)
        for f in files
        if f.endswith(".py")
    ):
        h.update(rel.encode())
        with open(os.path.join(pkg, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # "nproc": the CPUs this process may run on
    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = os.path.join(OUT_DIR, f"tmp-{run_id}")
    os.makedirs(tmp)
    # Temp files of Python, the JVM and Spark's block manager, and the
    # staging the queries do, all land under tmp.
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    load_start, probe_start = core.load1(), core.host_probe_s()
    spark = None
    try:
        import pyspark
        from tstables_spark import get_spark
        import tstables_spark.plans  # noqa: F401  (registers the queries)

        workload = WORKLOADS[args.workload](args.seed, tmp)
        tracer = core.Tracer(run_id, bool(args.trace))
        checks = Outcome()
        t0 = time.perf_counter()
        workload.prepare()
        prepare_s = time.perf_counter() - t0
        conf = {
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            conf.update(core.TRACE_CONF)
        with tracer.span("session.start") as span:
            spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
        workload.setup(spark, tracer, checks)
        # the probe, the oracle fetch and the output checks are not set-up
        setup_s = time.perf_counter() - T_START - probe_start - prepare_s - checks.check_s
        first_span = len(tracer.spans)
        out = measure(workload, spark, tracer, args.seconds)
        if args.trace:
            metrics = {name: 0.0 for name in per_layer()}
            metrics["session.start_s"] = span.end - span.start
            metrics.update(workload.layer_metrics(tracer, core.rest_group_stats(spark), out))
            loop = core.Tracer(run_id, True)
            loop.spans = tracer.spans[first_span:]
            for layer, t in core.layer_self_times(loop).items():
                metrics[f"trace.self_s.{layer}"] = t / out.traced_passes()
            traced, untraced = out.end_to_end(True), out.end_to_end(False)
            for name in traced:
                metrics[f"trace.overhead.{name}"] = traced[name] - untraced[name]
            tracer.dump(os.path.join(OUT_DIR, f"trace-{run_id}.json"))
            units = {k: u for k, (u, _) in per_layer().items()}
            unknown = set(metrics) - set(units)
            if unknown:
                raise RuntimeError(f"metrics outside the declared set: {sorted(unknown)}")
        else:
            metrics = {"setup_s": setup_s, **out.end_to_end(False)}
            units = END_TO_END
        spark_version = pyspark.__version__
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        teardown_s = time.perf_counter() - t0
        shutil.rmtree(tmp, ignore_errors=True)

    attempted = checks.attempted + out.attempted
    failed = checks.failed + out.failed
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus,
        "sf": None if args.workload == "tick-store" else 0.01,
        "git_commit": git_commit(), "source_sha1": source_sha1(),
        "spark_version": spark_version,
        "load1_start": load_start, "load1_end": core.load1(),
        "host_probe_s_start": probe_start, "host_probe_s_end": core.host_probe_s(),
        "teardown_s": teardown_s,
        "passes": len(out.passes), "ops": len(out.ops),
    }
    print("context " + json.dumps(context))
    for problem in checks.problems + out.problems:
        print("failed " + problem)
    for op in dict.fromkeys(k for _, k, _ in out.ops):
        walls = [w for _, k, w in out.ops if k == op]
        try:  # only with 100 or more samples, as longer runs give
            tail = f" p90={core.percentile(walls, 90):.6g}"
        except ValueError:
            tail = ""
        print(f"op {op} n={len(walls)} p50={core.median(walls):.6g}{tail} s")
    kind = "per_layer" if args.trace else "end_to_end"
    for name, value in metrics.items():
        print(f"{kind} {name} {value:.6g} {units[name]}")
    print(f"error_rate {failed / max(attempted, 1):.6g} ratio")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    core.check_metric_name(k): {"value": v, "unit": units[k]}
                    for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
