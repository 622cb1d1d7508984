"""Spans around calls into the package's layers, and the event-log reducer
that turns them into per-layer counters.

A span is a wall-clock interval with a name (``plans.etl.run_etl``) and a
unique Spark job tag (``SparkContext.addJobTag``); every job Spark starts
while the span is open carries the tag, including AQE stage jobs and
broadcast jobs that run on Spark's own threads. Spans nest: a job started
inside an inner span carries the inner and the outer tag, so counters are
inclusive of child spans. After the run, the uncompressed event log is
reduced per span:

- ``wall_s``: span duration;
- ``driver_s``: span time not covered by any of its jobs (plan building,
  Python, py4j round trips, result handling);
- ``jobs``, ``tasks``: Spark jobs tagged with the span, and their tasks;
- ``exec_cpu_s``, ``gc_s``: executor CPU and JVM GC time of those tasks;
- ``shuffle_mb``: shuffle bytes read plus written; ``spill_mb``: memory
  plus disk bytes spilled.

Only public APIs are used: job tags and the JSON event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

COUNTERS = ("wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "gc_s", "shuffle_mb", "spill_mb")
TAG_PREFIX = "pb-"


class Tracer:
    """Records spans when ``tracing``; otherwise a span only runs its body.

    Layer spans (the default) are recorded only while ``layers`` is set,
    so the traced run can make passes without them (the overhead
    baseline) and with them. Phase spans (``layer=False``) tag the
    benchmark's own set-up and gate jobs, so no job goes untagged.
    """

    def __init__(self, sc, tracing: bool):
        self.sc = sc
        self.tracing = tracing
        self.layers = False
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: bool = True):
        on = self.tracing and (self.layers or not layer)
        rec = {"name": name, "tag": f"{TAG_PREFIX}{len(self.spans)}", "t0": time.time()}
        if on:
            self.spans.append(rec)
            self.sc.addJobTag(rec["tag"])
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            if on:
                self.sc.removeJobTag(rec["tag"])


def wrap(tracer: Tracer, module, attr: str, name: str, importers=()) -> None:
    """Replace ``module.attr`` by a version that runs inside a span, also
    in each of ``importers``, modules that bound the name at import time."""
    fn = getattr(module, attr)

    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    for m in (module, *importers):
        setattr(m, attr, traced)


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs (id -> submit/end ms, tags, stage ids) and per-stage task
    totals from the uncompressed JSON event log(s) under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes a v2 log: a directory of rolled ``events_<n>_<app>``
    # files plus an empty ``appstatus`` marker
    paths = [p for p in glob.glob(f"{log_dir}/**", recursive=True) if os.path.isfile(p)]
    for path in sorted(paths):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                    jobs[ev["Job ID"]] = {
                        "t0": ev["Submission Time"],
                        "t1": ev["Submission Time"],
                        "tags": {t for t in tags.split(",") if t},
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages[ev["Stage ID"]]
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["tasks"] += 1
                    st["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    st["shuffle_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    ) / 2**20
                    st["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return jobs, stages


def _covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` (ms) clipped to [lo, hi], in s."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total / 1e3


def reduce_spans(spans: list[dict], jobs: dict, stages: dict) -> dict[str, dict[str, float]]:
    """Counters per span name, summed over every span with that name."""
    # a stage listed by several jobs ran its tasks under the first of them;
    # later jobs that list it skipped it (shuffle reuse)
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    by_job: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sid, st in stages.items():
        if sid in owner:
            for k, v in st.items():
                by_job[owner[sid]][k] += v
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    for sp in spans:
        t0, t1 = sp["t0"] * 1e3, sp["t1"] * 1e3
        mine = [j for j, rec in jobs.items() if sp["tag"] in rec["tags"]]
        c = out[sp["name"]]
        c["wall_s"] += (t1 - t0) / 1e3
        c["driver_s"] += (t1 - t0) / 1e3 - _covered_s(
            [(jobs[j]["t0"], jobs[j]["t1"]) for j in mine], t0, t1
        )
        c["jobs"] += len(mine)
        for j in mine:
            for k, v in by_job[j].items():
                c[k] += v
    return out


def untagged_jobs(jobs: dict) -> int:
    """Jobs that carry no span tag at all."""
    return sum(1 for rec in jobs.values() if not any(t.startswith(TAG_PREFIX) for t in rec["tags"]))
