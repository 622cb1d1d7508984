"""Correctness gates, run outside every timed region.

Each gate returns a list of failure strings (empty = pass). Results are
compared with DuckDB as order-insensitive multisets of rows, columns sorted
by name, values compared exactly (floats included): the registry queries
are written to be bit-identical with their DuckDB oracles.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import duckdb

from datagen import TABLES


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def multiset(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def compare(name: str, cols, rows, want_cols, want_rows) -> list[str]:
    """Multiset equality of two results; one failure string on mismatch."""
    if sorted(cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(cols)} != {sorted(want_cols)}"]
    if len(rows) != len(want_rows):
        return [f"{name}: {len(rows)} rows != {len(want_rows)}"]
    got, want = multiset(cols, rows), multiset(want_cols, want_rows)
    bad = [(a, b) for a, b in zip(got, want) if a != b]
    if bad:
        return [f"{name}: {len(bad)} rows differ, first {bad[0]}"]
    return []


def query_gate(con, name: str, cols, rows, sql: str) -> list[str]:
    """A registry query's collected rows against its oracle SQL."""
    cur = con.execute(sql)
    want_cols = [d[0] for d in cur.description]
    return compare(name, cols, rows, want_cols, cur.fetchall())


def _bars_sql(table: str, ts: str, value: str, tiebreak: str, volume: bool) -> str:
    vol = ", count(*) AS volume" if volume else ""
    desc = ", ".join(f"{c} DESC" for c in [ts, *tiebreak.split(", ")])
    return f"""
        SELECT CAST({ts} AS DATE) AS date,
               first({value} ORDER BY {ts}, {tiebreak}) AS open,
               max({value}) AS high, min({value}) AS low,
               first({value} ORDER BY {desc}) AS close{vol}
        FROM {table} GROUP BY 1"""


def etl_gate(full_dir: str, sink_dir: str, lo: int, hi: int,
             last_rerun: dict[str, int]) -> list[str]:
    """The sink against a DuckDB recomputation over the delivered dates.

    The weekly slices overlap and together cover days ``[lo, hi)`` (days
    since 1995-01-01), so the sink's three tables must equal the bars and
    converted price recomputed from the full tables over those days, as
    multisets; each date must appear once; and the re-run of the last week
    must have appended 0 rows (``last_rerun``).
    """
    con = duckdb.connect()
    for t, ts in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        con.execute(f"""
            CREATE VIEW {t} AS FROM '{full_dir}/{t}.parquet'
            WHERE CAST({ts} AS DATE) >= DATE '1995-01-01' + {lo}
              AND CAST({ts} AS DATE) < DATE '1995-01-01' + {hi}""")
    con.execute(f"CREATE VIEW px AS {_bars_sql('orders', 'o_orderdate', 'o_totalprice', 'o_orderkey', True)}")
    con.execute(f"CREATE VIEW fx AS {_bars_sql('lineitem', 'l_shipdate', 'l_discount', 'l_orderkey, l_linenumber', False)}")
    # the converted price as the program defines it, money_round: the
    # double product scaled to cents and rounded half-even, as numpy's
    # round(x, 2) does (an exact-decimal half-even differs on products like
    # 103242.1 * 0.05 that sit one ulp above a half cent)
    con.execute("""
        CREATE VIEW prd AS
        SELECT px.date, px.close AS close_price_usd, fx.close AS close_rate,
               round_even(px.close * fx.close * 100.0, 0) / 100.0 AS close_price_fx
        FROM px JOIN fx USING (date)""")
    fails: list[str] = []
    for table, view in (("src_px_usd", "px"), ("src_usd_fx", "fx"), ("prd_px_fx", "prd")):
        got = f"read_parquet('{os.path.join(sink_dir, table)}/*.parquet')"
        dup = con.execute(f"SELECT count(*) - count(DISTINCT date) FROM {got}").fetchone()[0]
        if dup:
            fails.append(f"{table}: {dup} duplicate dates")
        cur = con.execute(f"SELECT * FROM {got}")
        cols, rows = [d[0] for d in cur.description], cur.fetchall()
        want = con.execute(f"SELECT * FROM {view}")
        fails += compare(table, cols, rows, [d[0] for d in want.description], want.fetchall())
    con.close()
    for table, n in last_rerun.items():
        if n:
            fails.append(f"{table}: re-running the last week appended {n} rows")
    return fails


def report_gate(report_dir: str) -> list[str]:
    """The published report exists and is a complete HTML document."""
    path = os.path.join(report_dir, "index.html")
    if not os.path.exists(path):
        return ["report: index.html not published"]
    with open(path, encoding="utf-8") as f:
        html = f.read()
    if not html.startswith("<!DOCTYPE html>") or not html.endswith("</html>") or "<svg" not in html:
        return ["report: index.html is not a complete report"]
    return []


def shards_gate(spark, out_dir: str, manifest: dict, name: str) -> list[str]:
    """Training shards against their manifest: the manifest file equals the
    returned one, DuckDB re-derives every shard's rows and tokens (and the
    totals) from the written parquet, and ``verify_shard`` re-checks every
    shard's rows and checksum in Spark."""
    from pyspark import inheritable_thread_target

    from alphavantage_etl_spark.plans.export import verify_shard

    with open(os.path.join(out_dir, "_manifest.json"), encoding="utf-8") as f:
        if json.load(f) != manifest:
            return [f"{name}: _manifest.json differs from the returned manifest"]
    con = duckdb.connect()
    got = con.execute(f"""
        SELECT shard, count(*), sum(n_tokens)
        FROM read_parquet('{out_dir}/*/*.parquet', hive_partitioning = 1)
        GROUP BY shard ORDER BY shard""").fetchall()
    con.close()
    want = sorted((s["shard"], s["rows"], s["tokens"]) for s in manifest["shards"])
    fails = []
    if [(s, int(r), int(t)) for s, r, t in got] != want:
        fails.append(f"{name}: per-shard rows/tokens {got[:3]}... != manifest {want[:3]}...")
    if sum(r for _, r, _ in want) != manifest["total_rows"]:
        fails.append(f"{name}: shard rows do not sum to total_rows")
    if not want:
        fails.append(f"{name}: no shards written")

    def verify(shard: str) -> bool:
        return verify_shard(spark, out_dir, shard, manifest, text_col="chunk_text", id_col="chunk_id")

    # one small Spark job per shard, four at a time; the worker threads
    # inherit the caller's job tags
    with ThreadPoolExecutor(4) as pool:
        ok = list(pool.map(inheritable_thread_target(verify), [s for s, _, _ in want]))
    bad = [s for (s, _, _), good in zip(want, ok) if not good]
    if bad:
        fails.append(f"{name}: verify_shard fails for {len(bad)} shards, first {bad[0]}")
    return fails
