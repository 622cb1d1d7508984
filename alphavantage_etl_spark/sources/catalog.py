"""Existence probes (IO4) — the reference's ``inspect(engine).has_table``
(av_etl.py:44,110,143) re-expressed for Spark's three table notions.

The reference branches its whole incremental protocol on one boolean: does
the sink table exist yet? Spark needs that same probe in three flavors:

- **catalog tables** (metastore / temp views): ``spark.catalog.tableExists``
  — the direct analog.
- **path tables** (parquet/Delta dirs): no catalog entry exists; probing is
  attempting to resolve the path and distinguishing "not there" (a
  well-typed ``AnalysisException``) from real failures (corrupt footer,
  permissions) which MUST propagate — swallowing them would misreport a
  readable-but-broken sink as "first run" and re-append everything.
- **JDBC tables**: ask the database's own catalog (information_schema), the
  portable form of the reference's SQLAlchemy inspector. Connection-gated
  in this container (no live database) like the rest of the JDBC surface;
  the pushed-down probe query is a pure function and unit-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.errors import AnalysisException

from .jdbc import jdbc_reader


def table_exists(spark: SparkSession, name: str) -> bool:
    """Catalog-table probe: metastore tables, temp views, global temp
    views — ``spark.catalog.tableExists`` (supports db-qualified names)."""
    return spark.catalog.tableExists(name)


def read_path_if_exists(
    spark: SparkSession,
    path: str,
    format: str = "parquet",
    schema: StructType | None = None,
) -> DataFrame | None:
    """Path-table probe-and-read: the frame if the path resolves, ``None``
    if it does not exist yet (first run). Any OTHER read failure raises.

    ``AnalysisException`` is exactly Spark's "path does not exist /
    unresolvable" class; IO-level errors (corrupt footer, permission
    denied) surface as different exception types and propagate, so callers
    can never mistake a broken sink for an absent one.

    A known ``schema`` skips inference (a job that reads file footers);
    the path is still resolved, so absence still returns ``None``, and a
    corrupt file then raises at the frame's first action.
    """
    reader = spark.read.format(format)
    if schema is not None:
        reader = reader.schema(schema)
    try:
        return reader.load(path)
    except AnalysisException:
        return None


def path_exists(spark: SparkSession, path: str, format: str = "parquet") -> bool:
    return read_path_if_exists(spark, path, format) is not None


def information_schema_probe(table: str, schema: str = "public") -> str:
    """The pushed-down existence query for ``jdbc_table_exists`` — ANSI
    information_schema, so it ports across Postgres/MySQL/SQLServer (the
    SQLAlchemy inspector's portable subset)."""
    if "'" in table or "'" in schema:
        raise ValueError("table/schema names must not contain quotes")
    return (
        "SELECT 1 AS one FROM information_schema.tables "
        f"WHERE table_schema = '{schema}' AND table_name = '{table}'"
    )


def jdbc_table_exists(
    spark: SparkSession, url: str, table: str, schema: str = "public", **options: str
) -> bool:
    """JDBC-table probe: one-row information_schema query pushed to the
    database. Needs a live connection (deployment path — no database ships
    in this container)."""
    probe = jdbc_reader(
        spark, url, query=information_schema_probe(table, schema), **options
    )
    return len(probe.load().take(1)) > 0
