"""Public entry points — what a reference-engine user calls.

The reference's user surface is "submit SQL over registered
tables"; this module is that surface on Spark, plus discovery and
execution of the named operator queries in the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hetnetdb_spark import registry
from hetnetdb_spark.catalog import register_named


def sql(spark: SparkSession, sf_dir: str, statement: str) -> DataFrame:
    """Run an arbitrary ANSI-SQL statement against the catalog.

    The base tables from ``sf_dir`` that the statement names, or all
    of them when it names none, are registered (as ANALYZEd external
    parquet catalog tables — CBO join reordering sees row and size
    stats) before the statement parses; a table already registered at
    ``sf_dir`` costs nothing (``catalog.register_named``). The
    returned DataFrame is lazy; Catalyst/AQE plan it like any
    API-built query."""
    register_named(spark, sf_dir, statement)
    return spark.sql(statement)


def run(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Execute a named operator query from the registry."""
    registry.load_all()
    try:
        fn = registry.QUERIES[name]
    except KeyError:
        raise KeyError(
            f"unknown query {name!r}; see list_queries()"
        ) from None
    return fn(spark, sf_dir)


def profile(spark: SparkSession, sf_dir: str, name: str) -> list[dict]:
    """Execute a named query and return per-operator runtime metrics
    (output rows, shuffle bytes, spills) from the final adaptive
    plan — see :func:`hetnetdb_spark.plans.audit.profile`."""
    from hetnetdb_spark.plans.audit import profile as _profile

    return _profile(run(spark, sf_dir, name))


def list_queries() -> list[str]:
    """All registered query names, in registration order."""
    registry.load_all()
    return list(registry.QUERIES)


def oracle_sql(name: str) -> str | None:
    """The DuckDB oracle SQL for ``name`` (None = rows-only op)."""
    registry.load_all()
    return registry.ORACLE.get(name)


def ingest_csv(
    spark: SparkSession,
    path: str,
    table_name: str,
    schema: str | None = None,
) -> DataFrame:
    """The reference's primary ingestion flow — upload a CSV,
    register it as a queryable table — as one call: read `path`
    (header expected; `schema` as a DDL string pins column types, or
    None for a one-pass inference scan), register under
    `table_name`, return the DataFrame.

    Registered as a temp view (session-scoped, like the reference's
    per-server tables), so it composes with :func:`sql`. A view named
    after a base table shadows that table; register the table first
    (``catalog.register_views``), or the next statement naming it
    drops the view to register the table (``tools/serve.py``'s upload
    route does this). ``events`` is the exception: any registration
    of it replaces the view.

    For durable, stats-backed tables, write parquet and go through
    `catalog.register_views` instead; CSV is an ingest format, not a
    storage layout (no pushdown, no row-group pruning, full-file
    scans — see sources/io.py S2 notes).
    """
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    df.createOrReplaceTempView(table_name)
    return df
