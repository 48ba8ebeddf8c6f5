"""Testdata catalog: canonical loaders for the driver's parquet tables.

Replaces the reference's schema-peek + full-scan source path
(``graph_db_builder.py:157,173-177`` LIMIT-1 peek; ``:482`` SELECT *):
parquet footers are self-describing, so schema discovery is free, and
column pruning / predicate pushdown happen in the scan once downstream
operators select/filter — never fetch-everything-then-drop.

Also home of the session's source-plan cache (``_table_cache``), which
``load_table`` and the graph builder's ``read_cached`` share.
"""

from __future__ import annotations

import os
from typing import Any, Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from graphdbetl_spark.session import configure_session
from graphdbetl_spark.sources.readers import read_source, resolve_path, source_kind

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session-scoped plan cache shared by load_table and the graph builder
# (read_cached): (session-JVM id, source kind, resolved path, reader
# options) -> (file fingerprint, analyzed DataFrame). DataFrames are
# immutable lazy plans, so handing the same object to every caller is
# safe and skips the file listing, the footer read or schema-inference
# job, and the analysis. The fingerprint is (relpath, size, mtime_ns) of
# every data file under the path, taken with os.walk on the driver (no
# Spark job); a lookup hits only while it still matches, and a changed
# file re-plans into the same slot, so stale plans never pile up. Only
# local files are cached: JDBC/MySQL tables and paths the driver cannot
# stat are re-read every time. This memoizes the *plan only*; it never
# persists data, so scans keep their pushdown / pruning shape (asserted
# by tests/test_plans.py).
_table_cache: dict[tuple, tuple[tuple, DataFrame]] = {}


def _fingerprint(path: str) -> tuple | None:
    """``(relpath, size, mtime_ns)`` of every data file under ``path``
    (Spark skips names starting with ``_`` or ``.``, so does this), or
    None when ``path`` is not a local file or directory."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    out = []
    for dirpath, dirnames, names in os.walk(path):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
        for name in sorted(names):
            if name.startswith(("_", ".")):
                continue
            full = os.path.join(dirpath, name)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(out)


def _cached_plan(
    spark: SparkSession, kind: str, path: str, options: tuple, read: Callable[[], DataFrame]
) -> DataFrame:
    """``read()``'s plan for ``path``, planned once per file version."""
    fingerprint = _fingerprint(path)
    if fingerprint is None:
        return read()
    key = (id(spark._jsparkSession), kind, os.path.abspath(path), options)
    hit = _table_cache.get(key)
    if hit is not None and hit[0] == fingerprint:
        return hit[1]
    df = read()
    _table_cache[key] = (fingerprint, df)
    return df


def read_cached(spark: SparkSession, source: dict[str, Any], table: str) -> DataFrame:
    """``read_source`` through the plan cache; JDBC/MySQL bypass it."""
    kind = source_kind(source)
    if kind in ("jdbc", "mysql"):
        return read_source(spark, source, table)
    options = tuple(sorted((str(k), repr(v)) for k, v in source.items() if k != "path"))
    return _cached_plan(
        spark, kind, resolve_path(source, table), options,
        lambda: read_source(spark, source, table),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table as a DataFrame with engine-canonical types.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); Spark reads it
    as long (nanosAsLong) and we convert to TimestampType at µs
    precision — the same truncation DuckDB applies, so oracles agree.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Kind "catalog" keeps this canonical-typed plan apart from a plain
    # parquet source read of the same file.
    return _cached_plan(spark, "catalog", path, (), lambda: _read_catalog(spark, path, name))


def _read_catalog(spark: SparkSession, path: str, name: str) -> DataFrame:
    configure_session(spark)
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer div: float division rounds half-µs up, DuckDB truncates
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Parquet timestamps written without the isAdjustedToUTC annotation
    # read as TIMESTAMP_NTZ, which watermarks / unix_micros / tz
    # functions reject. Session tz is pinned UTC (session.py), so the
    # NTZ -> TIMESTAMP cast is value-exact (DuckDB oracles see the same
    # naive values) and restores the engine-canonical TimestampType.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df
