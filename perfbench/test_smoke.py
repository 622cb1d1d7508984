"""Smoke test of the benchmark at sf0.001.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced through the command in
BENCHMARK.json, and checks that each run exits 0, passes its gates, and
emits every metric BENCHMARK.json names with its unit. Another test plants
a duplicate row in a real ETL sink and checks that the ``etl_weekly`` gate
rejects it. The last pins the registry queries the mix leaves out because
they miss their DuckDB oracles on some generated inputs: each case is
expected to fail, and starts passing once the program is fixed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import tempfile

import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    return result["metrics"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    metrics = bench(workload, 0)
    assert {k: v["unit"] for k, v in metrics.items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    assert all(v["value"] > 0 for v in metrics.values()), metrics


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_layer_metric(workload):
    metrics = bench(workload, 1)
    assert {k: v["unit"] for k, v in metrics.items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]
    }
    assert metrics["trace.untagged_jobs"]["value"] == 0
    assert metrics["trace.overhead_ratio"]["value"] > 0
    own = {
        "etl_weekly": ["plans.etl.run_etl.jobs", "plans.render.render_report.wall_s"],
        "query_mix": [
            "queries.iter.build.wall_s", "queries.vec.exec.tasks",
            "plans.curation.curate_to_shards.jobs",
            "operators.dedup.minhash_verified_near_dups.jobs",
            "operators.graph.connected_components.jobs",
            "plans.export.write_training_shards.jobs",
        ],
    }[workload]
    assert all(metrics[m]["value"] > 0 for m in own), {m: metrics[m] for m in own}


@pytest.fixture(scope="module")
def session():
    """A Spark session whose files stay in the checkout, as in a benchmark
    run, and its work directory."""
    import run
    from alphavantage_etl_spark.session import get_spark

    work = os.path.join(ROOT, ".perfbench_work", f"smoke-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    with pytest.MonkeyPatch.context() as mp:
        for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS"):
            mp.setenv(var, "")
        run.isolate(work, trace=False)
        mp.setattr(tempfile, "tempdir", os.environ["TMPDIR"])
        spark = get_spark("perfbench-smoke", cpus=2, shuffle_partitions=2)
        try:
            yield spark, work
        finally:
            spark.stop()
            shutil.rmtree(work, ignore_errors=True)


def test_planted_duplicate_sink_row_trips_etl_gate(session):
    from spans import Tracer
    from workloads import EtlWeekly

    spark, work = session
    w = EtlWeekly(spark, os.path.join(work, "etl"), seed=3)
    w.sf = 0.001
    tracer = Tracer(spark.sparkContext, tracing=False)
    w.setup(tracer)
    w.run_pass(tracer)
    assert w.gate() == []
    sink = os.path.join(w.sink, "src_px_usd")
    spark.read.parquet(sink).limit(1).write.mode("append").parquet(sink)
    fails = w.gate()
    assert any("duplicate dates" in f for f in fails), fails
    assert any(f.startswith("src_px_usd:") and "rows" in f for f in fails), fails


# (query, seed) at sf0.01 where the query's rounded result differs from its
# oracle's in the last digit of one or more rows
KNOWN_MISMATCHES = [("q_pagerank", 1), ("q_vwap", 1), ("q_indicators", 2)]


@pytest.mark.xfail(strict=True, raises=AssertionError, reason="open defect: last-digit mismatch with the DuckDB oracle")
@pytest.mark.parametrize("query,seed", KNOWN_MISMATCHES)
def test_query_left_out_of_the_mix_matches_its_oracle(session, query, seed):
    import datagen
    import gates
    from alphavantage_etl_spark.queries import ALL_ORACLES, ALL_QUERIES

    spark, work = session
    sf_dir = os.path.join(work, f"in-{seed}")
    if not os.path.exists(sf_dir):
        datagen.write(datagen.generate(seed, 0.01), sf_dir)
    df = ALL_QUERIES[query](spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    con = gates.duck(sf_dir)
    try:
        assert gates.query_gate(con, query, df.columns, rows, ALL_ORACLES[query]) == []
    finally:
        con.close()
