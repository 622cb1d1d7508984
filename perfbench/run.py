#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_weekly --seed 1 --seconds 10 --trace 0

Runs one workload (``workloads.py``) against ``local[N]``, N = the CPUs
this process may use, with N shuffle partitions. Inputs are generated from
``--seed`` into a fresh directory under ``.perfbench_work/`` in the
checkout, which is removed at exit; every Spark, JVM and Python temporary
file stays inside it.

Untraced (``--trace 0``): set-up, then passes of the workload's fixed work
until ``--seconds`` have elapsed (at least one), then the correctness gate. Traced (``--trace 1``): set-up, a pass without
layer spans, one with them and another without, the gate, then the event
log is reduced to per-layer counters.

Stdout: one JSON line with the full report (input sizes, ``cpus`` and
shuffle partitions, set-up phases, pass and op times, the tail percentile
with its sample count, ``ops_failed_ratio``, peak RSS, output files and
bytes, gate failures), then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}`` with the metrics
BENCHMARK.json names. The exit code is 0 only when every op ran and every
gate passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import spans  # noqa: E402
import workloads  # noqa: E402
from alphavantage_etl_spark import session  # noqa: E402

# the package defaults to an 8g driver heap; 2g keeps a run small, and on a
# 4-core VM an 8g heap measured no steadier while set-up took ~50% longer
DRIVER_MEM = "2g"


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def child_jvms(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        comm, rest = stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:]
        if int(rest.split()[1]) == pid and comm == "java":
            out.append(int(entry))
    return out


def stop_jvms(jvms: list[int], timeout_s: float = 60.0) -> None:
    """Terminate the JVMs, this process's children, and reap each."""
    for pid in jvms:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGTERM)
    deadline = time.monotonic() + timeout_s
    for pid in jvms:
        with contextlib.suppress(ChildProcessError):
            while not os.waitpid(pid, os.WNOHANG)[0] and time.monotonic() < deadline:
                time.sleep(0.05)


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) of this process and of its JVM."""
    me = os.getpid()
    return {"python_mb": round(vm_hwm_mb(me), 1),
            "jvm_mb": round(sum(vm_hwm_mb(p) for p in child_jvms(me)), 1)}


def tail(ops: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least ten samples beyond it:
    (percentile, value, sample count); None below 11 samples."""
    n = len(ops)
    if n < 11:
        return None
    s = sorted(ops)
    idx = n - 11  # s[idx] has exactly ten samples above it
    return round(100.0 * (idx + 1) / n, 2), s[idx], n


def isolate(run_dir: str, trace: bool) -> None:
    """Point every temporary file of Python, Spark and the JVM into run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    confs = {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def per_layer(units: dict[str, str], w, tracer: spans.Tracer, log_dir: str,
              walls: dict[str, float]) -> dict:
    """Every per-layer metric BENCHMARK.json names; a layer this workload
    does not call reads 0."""
    jobs, stages = spans.read_event_log(log_dir)
    counters = spans.reduce_spans(tracer.spans, jobs, stages)
    out = {}
    for name, unit in units.items():
        if name.startswith("setup."):
            # setup.queries.<family>.first_build_s, setup.<layer>.<fn>.first_call_s
            v = w.first_build.get(name.split(".")[-2], 0.0)
        elif name == "trace.untagged_jobs":
            v = spans.untagged_jobs(jobs)
        elif name == "trace.overhead_ratio":
            v = walls["traced"] / walls["untraced"]
        else:
            span, counter = name.rsplit(".", 1)
            v = counters.get(span, {}).get(counter, 0.0)
        out[name] = {"value": round(v, 6), "unit": unit}
    return out


def layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (smoke tests)")
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    run_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    jvms: list[int] = []
    try:
        isolate(run_dir, trace)
        cpus = len(os.sched_getaffinity(0))
        t_setup = time.perf_counter()
        spark = session.get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus)
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tracer = spans.Tracer(sc, tracing=trace)
        jvms = child_jvms(os.getpid())
        session_s = time.perf_counter() - t_setup
        w = workloads.WORKLOADS[args.workload](spark, os.path.join(run_dir, "w"), args.seed)
        if args.sf:
            w.sf = args.sf
        with tracer.span("bench.setup", layer=False):
            w.setup(tracer)
        setup_s = time.perf_counter() - t_setup

        ops: list[float] = []
        walls: dict[str, float] = {}
        pass_walls: list[float] = []
        errors: list[str] = []

        def one_pass(label: str) -> float:
            t0 = time.perf_counter()
            with tracer.span(f"bench.{label}", layer=False):
                try:
                    ops.extend(w.run_pass(tracer))
                except Exception as e:  # an op that raises fails the run
                    errors.append(f"{label}: {type(e).__name__}: {e}")
            return time.perf_counter() - t0

        if trace:
            # untraced, traced, untraced: the first pass finishes warming
            # the JVM, and the overhead baseline is the pass after the traced
            # one, which is at least as warm (so the ratio errs high)
            pass_walls = [one_pass("untraced")]
            w.trace_layers(tracer)
            tracer.layers = True
            walls["traced"] = one_pass("traced")
            tracer.layers = False
            pass_walls.append(one_pass("untraced"))
            walls["untraced"] = pass_walls[-1]
        else:
            t_end = time.perf_counter() + args.seconds
            while not pass_walls or time.perf_counter() < t_end:
                pass_walls.append(one_pass("pass"))
                if errors:
                    break
        t_gate = time.perf_counter()
        with tracer.span("bench.gate", layer=False):
            gate_fails = errors or w.gate()
        gate_s = time.perf_counter() - t_gate
        rss = peak_rss_mb()
        spark.stop()
        spark = None

        metrics = None
        if trace:
            metrics = per_layer(layer_units(), w, tracer, os.path.join(run_dir, "eventlog"), walls)
            untagged = metrics["trace.untagged_jobs"]["value"]
            if untagged:
                gate_fails = gate_fails + [f"trace: {untagged:.0f} jobs carry no span tag"]
        attempted = max(len(ops), 1)
        # an op that raised or a gate that failed without naming ops fails them all
        failed = w.failed_ops(gate_fails, len(ops)) or (attempted if gate_fails else 0)
        wall_s = statistics.median(pass_walls)
        op_p50_s = statistics.median(ops) if ops else 0.0
        peak = sum(rss.values())
        if not trace:
            metrics = {
                "setup_s": {"value": round(setup_s, 4), "unit": "s"},
                "wall_s": {"value": round(wall_s, 4), "unit": "s"},
                "peak_rss_mb": {"value": round(peak, 1), "unit": "MB"},
                "out_bytes": {"value": w.out_bytes, "unit": "bytes"},
            }
        t = tail(ops)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "shuffle_partitions": cpus, "driver_memory": DRIVER_MEM,
            "inputs": w.inputs(), "passes": len(pass_walls), "ops": len(ops),
            "pass_walls_s": [round(x, 4) for x in pass_walls], "ops_s": [round(x, 4) for x in ops],
            "setup_s": round(setup_s, 4),
            "setup_phases": {"session_s": round(session_s, 4), **w.phases},
            "first_build_s": {f: round(v, 4) for f, v in w.first_build.items()},
            "gate_s": round(gate_s, 4),
            "wall_s": round(wall_s, 4), "op_p50_s": round(op_p50_s, 4),
            "op_tail": None if t is None else {
                "percentile": t[0], "value_s": round(t[1], 4), "samples": t[2]},
            "ops_failed_ratio": failed / attempted,
            "peak_rss_mb": round(peak, 1), "peak_rss": rss,
            "out_files": w.out_files, "out_bytes": w.out_bytes,
            "gate_failures": gate_fails,
        }
        print(json.dumps(report), flush=True)
        print(json.dumps({
            "correct": not gate_fails, "attempted": attempted,
            "failed": failed, "metrics": metrics,
        }), flush=True)
        return 1 if gate_fails else 0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvms(jvms)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
