"""The workloads: a weekly ETL replay, and a mix of registry queries and
one corpus curation.

Each workload is closed-loop with one client: an op starts when the
previous one has returned. A *pass* is the workload's fixed unit of work;
the timed region repeats passes, each from fresh outputs. Set-up (input
generation and warm-up) and the correctness gate sit outside it.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
import gates
from spans import Tracer, wrap


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    """Base: ``setup`` -> ``run_pass`` (repeated) -> ``gate``."""

    name = ""
    sf = 0.0

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.out_files = self.out_bytes = 0
        self.first_build: dict[str, float] = {}
        self.phases: dict[str, float] = {}
        self.t_phase = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current set-up phase under ``name``."""
        now = time.perf_counter()
        self.phases[name] = round(now - self.t_phase, 4)
        self.t_phase = now

    def trace_layers(self, tracer: Tracer) -> None:
        """Install spans around this workload's layer calls (traced run)."""

    def inputs(self) -> dict[str, int]:
        return {}

    def failed_ops(self, gate_fails: list[str], n_ops: int) -> int:
        """Timed ops whose output a failed gate rejects: by default all."""
        return n_ops if gate_fails else 0


class EtlWeekly(Workload):
    """The reference's weekly job, replayed over consecutive weekly cutoffs.

    Week ``k`` delivers a compact slice: the orders and lineitem rows of
    the ``SLICE_DAYS`` days before its cutoff, most of which the sink
    already holds. The week then runs ``run_etl`` into the sink,
    ``report_frames`` and ``render_report`` over the history delivered so
    far, and ``publish_report``. A pass replays ``WEEKS`` weeks into a
    fresh sink; the first cutoff is drawn from the seed. A pass's first
    week appends to an empty sink and the later ones to a non-empty one.
    """

    name = "etl_weekly"
    sf = 0.1
    WEEKS = 3
    SLICE_DAYS = 100

    def setup(self, tracer: Tracer) -> None:
        tables = datagen.generate(self.seed, self.sf)
        self.full = os.path.join(self.work, "full")
        datagen.write({t: tables[t] for t in ("orders", "lineitem")}, self.full)
        first = int(self.rng.integers(
            self.SLICE_DAYS, datagen.ORDER_DAYS - 7 * self.WEEKS
        ))
        self.cutoffs = [first + 7 * k for k in range(self.WEEKS)]
        self.lo = first - self.SLICE_DAYS
        day = {
            "orders": pc.cast(tables["orders"]["o_orderdate"], "int64"),
            "lineitem": pc.cast(tables["lineitem"]["l_shipdate"], "int64"),
        }
        self.deliveries, self.history = [], []
        prev = self.lo
        for k, cut in enumerate(self.cutoffs):
            dlv = os.path.join(self.work, "deliveries", f"w{k}")
            hist = os.path.join(self.work, "history", f"w{k}")
            for t in ("orders", "lineitem"):
                d = pc.subtract(pc.divide(day[t], datagen.US_PER_DAY), datagen.EPOCH_DAY_1995)
                datagen.write(
                    {t: tables[t].filter(pc.and_(pc.greater_equal(d, cut - self.SLICE_DAYS), pc.less(d, cut)))},
                    dlv,
                )
                # history to date = the increments delivered so far, one file
                # per week; later weeks hard-link the earlier increments
                inc = os.path.join(hist, f"{t}.parquet")
                os.makedirs(inc)
                pq.write_table(
                    tables[t].filter(pc.and_(pc.greater_equal(d, prev), pc.less(d, cut))),
                    os.path.join(inc, f"part-{k:03d}.parquet"),
                )
                if k:
                    prev_inc = os.path.join(self.history[-1], f"{t}.parquet")
                    for f in os.listdir(prev_inc):
                        os.link(os.path.join(prev_inc, f), os.path.join(inc, f))
            self.deliveries.append(dlv)
            self.history.append(hist)
            prev = cut
        self.n_rows = {t: tables[t].num_rows for t in ("orders", "lineitem")}
        self.phase("inputs_s")
        # two untimed weeks compile both append shapes (into an empty and
        # into a non-empty sink) and the report's plans
        self.run_pass(tracer, weeks=2)
        self.phase("warmup_s")

    def inputs(self) -> dict[str, int]:
        return {
            "orders_rows": self.n_rows["orders"],
            "lineitem_rows": self.n_rows["lineitem"],
            "weeks_per_pass": self.WEEKS,
            "slice_days": self.SLICE_DAYS,
        }

    def trace_layers(self, tracer: Tracer) -> None:
        from alphavantage_etl_spark.plans import etl, render, report

        wrap(tracer, etl, "run_etl", "plans.etl.run_etl")
        wrap(tracer, report, "report_frames", "plans.report.report_frames")
        wrap(tracer, render, "render_report", "plans.render.render_report")

    def run_pass(self, tracer: Tracer, weeks: int = WEEKS) -> list[float]:
        from alphavantage_etl_spark.plans import etl, render, report

        self.sink = reset_dir(os.path.join(self.work, "sink"))
        self.report_dir = reset_dir(os.path.join(self.work, "report"))
        ops = []
        for dlv, hist in zip(self.deliveries[:weeks], self.history[:weeks]):
            t0 = time.perf_counter()
            etl.run_etl(self.spark, dlv, self.sink)
            html = render.render_report(report.report_frames(self.spark, hist))
            render.publish_report(html, self.report_dir)
            ops.append(time.perf_counter() - t0)
        s, r = dir_size(self.sink), dir_size(self.report_dir)
        self.out_files, self.out_bytes = s[0] + r[0], s[1] + r[1]
        return ops

    def gate(self) -> list[str]:
        from alphavantage_etl_spark.plans import etl

        rerun = etl.run_etl(self.spark, self.deliveries[-1], self.sink)
        return gates.etl_gate(
            self.full, self.sink, self.lo, self.cutoffs[-1], rerun
        ) + gates.report_gate(self.report_dir)


# One query per family keeps a run inside its time budget on 4 cores.
# q_label_propagation and q_knn_graph are left out for their cost: the
# first's oracle alone takes ~13 s in DuckDB, and the second's shared k-NN
# graph ~6 s of set-up. The curation's "cluster" resolution runs
# operators.graph instead.
FAMILIES = {
    "ts": ("q_sma_window",),
    "rel": ("q_revenue_by_nation",),
    "vec": ("q_ann_join",),
    "iter": ("q_bradley_terry",),
}
CURATE = "curate_to_shards"


class QueryMix(Workload):
    """Oracle-backed registry queries and one corpus curation, in a seeded
    order. A query op builds the query's DataFrame and executes it through
    the ``noop`` sink. The curation op runs ``curate_to_shards`` over the
    documents into fresh shards, holding out ``doc_id % 47 == r`` (``r``
    seeded) as the benchmark split to decontaminate against. The cache is
    cleared after each op. Set-up runs every query once, collecting its
    rows for the gate. A pass outlasts the benchmark's run length, so a
    run makes one timed pass, and the curation runs for the first time in
    its session, as a batch job does. The traced run, which compares
    passes, runs one curation in set-up too."""

    name = "query_mix"
    sf = 0.01

    def setup(self, tracer: Tracer) -> None:
        from alphavantage_etl_spark.queries import ALL_QUERIES

        self.sf_dir = os.path.join(self.work, "in")
        tables = datagen.generate(self.seed, self.sf)
        datagen.write(tables, self.sf_dir)
        self.n_rows = {t: tables[t].num_rows for t in ("orders", "lineitem", "events", "documents", "embeddings")}
        self.family = {q: f for f, qs in FAMILIES.items() for q in qs}
        self.order = [str(q) for q in self.rng.permutation([*sorted(self.family), CURATE])]
        self.held_out = int(self.rng.integers(0, 47))
        self.phase("inputs_s")
        self.results = {}
        for q in self.order:
            if q == CURATE:
                continue
            t0 = time.perf_counter()
            df = ALL_QUERIES[q](self.spark, self.sf_dir)
            fam = self.family[q]
            self.first_build[fam] = self.first_build.get(fam, 0.0) + time.perf_counter() - t0
            self.results[q] = (df.columns, [tuple(r) for r in df.collect()])
            self.spark.catalog.clearCache()
        self.phase("warmup_s")
        if tracer.tracing:
            t0 = time.perf_counter()
            self.curate(os.path.join(self.work, "shards"))
            self.first_build[CURATE] = time.perf_counter() - t0
            self.phase("curate_warmup_s")

    def inputs(self) -> dict[str, int]:
        return {**{f"{t}_rows": n for t, n in self.n_rows.items()},
                "queries": len(self.family), "held_out": self.held_out}

    def curate(self, out: str) -> dict:
        from pyspark.sql import functions as F

        from alphavantage_etl_spark.plans import curation
        from alphavantage_etl_spark.sources import load

        docs = load(self.spark, self.sf_dir, "documents").select("doc_id", "text", "source")
        held = F.col("doc_id") % 47 == self.held_out
        # "cluster" keeps one document per near-duplicate family, through
        # operators.graph's connected components
        manifest = curation.curate_to_shards(
            docs.where(~held), docs.where(held), reset_dir(out),
            resolution="cluster", contamination_threshold=0.25, shard_tokens=5_000,
        )
        self.spark.catalog.clearCache()
        return manifest

    def trace_layers(self, tracer: Tracer) -> None:
        from alphavantage_etl_spark.operators import chunking, contamination, dedup, graph
        from alphavantage_etl_spark.plans import curation, export

        wrap(tracer, curation, "curate_to_shards", "plans.curation.curate_to_shards")
        wrap(tracer, dedup, "minhash_verified_near_dups",
             "operators.dedup.minhash_verified_near_dups", importers=(curation,))
        wrap(tracer, contamination, "ngram_contamination", "operators.contamination.ngram_contamination")
        wrap(tracer, chunking, "chunk_documents", "operators.chunking.chunk_documents")
        wrap(tracer, export, "write_training_shards", "plans.export.write_training_shards")
        wrap(tracer, graph, "connected_components", "operators.graph.connected_components")

    def run_pass(self, tracer: Tracer) -> list[float]:
        from alphavantage_etl_spark.queries import ALL_QUERIES

        ops = []
        for q in self.order:
            t0 = time.perf_counter()
            if q == CURATE:
                self.shards = os.path.join(self.work, "shards")
                self.manifest = self.curate(self.shards)
                ops.append(time.perf_counter() - t0)
                self.out_files, self.out_bytes = dir_size(self.shards)
                continue
            fam = self.family[q]
            with tracer.span(f"queries.{fam}.build"):
                df = ALL_QUERIES[q](self.spark, self.sf_dir)
            with tracer.span(f"queries.{fam}.exec"):
                df.write.format("noop").mode("overwrite").save()
            ops.append(time.perf_counter() - t0)
            self.spark.catalog.clearCache()
        return ops

    def failed_ops(self, gate_fails: list[str], n_ops: int) -> int:
        """Each failing op in every pass."""
        failing = {f.split(":")[0] for f in gate_fails} & set(self.order)
        return n_ops // len(self.order) * len(failing)

    def gate(self) -> list[str]:
        from alphavantage_etl_spark.queries import ALL_ORACLES

        con = gates.duck(self.sf_dir)
        fails = []
        for q, (cols, rows) in self.results.items():
            fails += gates.query_gate(con, q, cols, rows, ALL_ORACLES[q])
        con.close()
        return fails + gates.shards_gate(self.spark, self.shards, self.manifest, CURATE)


WORKLOADS = {w.name: w for w in (EtlWeekly, QueryMix)}
