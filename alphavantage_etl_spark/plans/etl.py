"""End-to-end ETL pipeline — the reference's full dataflow, Spark-first.

Reproduces av_etl.py's three tasks (get_daily_price, get_daily_exchange_rate,
calc_load_daily_price_other_ccy; orchestrated by airflow/av_etl_dag.py:57-72)
as one idempotent, rerunnable pipeline over parquet sink tables:

1. **extract**: build the src frames (daily price/FX bars — the API-fetch
   analog over fixtures; see plans/views.py).
2. **incremental load**: read the sink's high watermark (av_etl.py:12-19),
   keep only genuinely-new rows via key anti-join (the order-independent
   form of ``tail(gap)``, av_etl.py:79), append. The PK constraint
   (av_etl.py:37-38) is designed out: duplicates are impossible by
   construction, so a rerun appends nothing instead of crashing.
3. **derived refresh**: recompute the converted-price table for the new
   dates only (av_etl.py:142-195) — ``views.convert`` over the two price
   sinks — and append.

Unlike the reference (tasks exchange state only through Postgres,
av_etl_dag.py:21-46), the intermediate frames here are lazy DataFrames in
one session — the sink is a durability boundary, not an IPC channel.

Scale: every append is partitioned parquet; the watermark probe is a
1-row aggregate; the anti-join broadcasts the sink's key projection (one
row per date). Sink reads pass the schema of the frame written there, so
no read runs a schema-inference job over the sink's footers. Swap the path
for a Delta/Iceberg table URI and ``MERGE INTO`` replaces append for
exactly-once semantics under concurrent writers.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.incremental import new_rows
from ..sources.catalog import read_path_if_exists
from .views import convert, fx_bars, px_bars

T = TypeVar("T")

SRC_PX = "src_px_usd"
SRC_FX = "src_usd_fx"
PRD = "prd_px_fx"


def _sink_path(sink_dir: str, table: str) -> str:
    return os.path.join(sink_dir, table)


def _read_sink(
    spark: SparkSession, sink_dir: str, table: str, schema: StructType
) -> DataFrame | None:
    # IO4 probe: None only for a genuinely-absent sink (first run); corrupt
    # or unreadable sinks raise instead of masquerading as fresh ones. The
    # sink holds what this pipeline wrote, so its schema is known and the
    # read skips inference.
    return read_path_if_exists(spark, _sink_path(sink_dir, table), schema=schema)


def _append_new(
    spark: SparkSession, sink_dir: str, table: str, incoming: DataFrame, key: str
) -> int:
    """Anti-join append: write only rows whose key is absent from the sink.
    Returns the number of appended rows (0 on an up-to-date rerun — the
    reference's early-exit, av_etl.py:54-55, without the special case).

    Single action per table: the appended-row count is accumulated DURING
    the write via ``df.observe`` instead of a separate ``count()`` action —
    the r2 version scanned the incoming batch and the sink's key projection
    twice per table per run, which doubles the hot-path read at 100 TB
    incremental ingest. An up-to-date rerun appends a 0-row part file
    (metadata-only; readers see identical contents).
    """
    from pyspark.sql import Observation

    existing = _read_sink(spark, sink_dir, table, incoming.schema)
    fresh = incoming if existing is None else new_rows(incoming, existing, key)
    obs = Observation()
    fresh = fresh.observe(obs, F.count(F.lit(1)).alias("n"))
    fresh.write.mode("append").parquet(_sink_path(sink_dir, table))
    return int(obs.get["n"])


def run_etl(
    spark: SparkSession,
    sf_dir: str,
    sink_dir: str,
    validate: bool = False,
) -> dict[str, int]:
    """One pipeline run (the DAG's full topological order). Rerunnable:
    a second invocation over unchanged inputs appends 0 rows everywhere.

    ``validate=True`` runs the data-quality gate (``plans.quality``) over
    each source frame BEFORE its append — bar invariants (complete key
    columns, low <= high, positive volume, unique dates) — and raises
    ``QualityCheckError`` without touching the sink on violation: a
    malformed extract must not publish. One extra aggregate scan per
    table; the reference appends blindly (av_etl.py:30-36).
    """
    px_f, fx_f = px_bars(spark, sf_dir), fx_bars(spark, sf_dir)
    if validate:
        from .quality import Checks, enforce, run_checks

        for name, frame, has_vol in ((SRC_PX, px_f, True), (SRC_FX, fx_f, False)):
            checks = Checks(
                complete=["date", "open", "high", "low", "close"],
                ranges=[("volume", 1.0, 1e12)] if has_vol else [],
                unique=[["date"]],
            )
            enforce(run_checks(frame, checks))
    appended = {
        SRC_PX: _append_new(spark, sink_dir, SRC_PX, px_f, "date"),
        SRC_FX: _append_new(spark, sink_dir, SRC_FX, fx_f, "date"),
    }

    # Derived refresh reads the SINK (not the source frames) — same contract
    # as the reference, where prd_ is computed from the loaded src_ tables.
    prd = convert(
        _read_sink(spark, sink_dir, SRC_PX, px_f.schema),
        _read_sink(spark, sink_dir, SRC_FX, fx_f.schema),
    )
    appended[PRD] = _append_new(spark, sink_dir, PRD, prd, "date")
    return appended


def with_retry(
    fn: Callable[[], T],
    tries: int = 5,
    delay: float = 1.0,
    exceptions: tuple[type[BaseException], ...] = (Exception,),
    sleep: Callable[[float], None] = time.sleep,
) -> T:
    """Bounded retry (ST3) — the reference's ``@retry(Exception, tries=5,
    delay=1)`` on the derived refresh (av_etl.py:138), as a pipeline-level
    wrapper. The last failure re-raises; ``sleep`` is injectable so tests
    don't wait wall-clock time.
    """
    for attempt in range(1, tries + 1):
        try:
            return fn()
        except exceptions:
            if attempt == tries:
                raise
            sleep(delay)
    raise AssertionError("unreachable")  # tries >= 1 always returns or raises


def run_etl_with_retry(
    spark: SparkSession,
    sf_dir: str,
    sink_dir: str,
    tries: int = 5,
    delay: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> dict[str, int]:
    """``run_etl`` under the reference's retry policy. Retrying the WHOLE
    pipeline is safe precisely because every append is anti-join-guarded:
    a failure after a partial append reruns into 0-row appends for the
    already-written tables — transient faults never duplicate rows."""
    return with_retry(
        lambda: run_etl(spark, sf_dir, sink_dir), tries, delay, sleep=sleep
    )
