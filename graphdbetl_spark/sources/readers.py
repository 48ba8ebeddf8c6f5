"""Pluggable source readers (reference R1/R12/D5 → SURVEY.md §2A).

The reference hardcodes MySQL (``sql_io.py:4-13``) and raises
NotImplementedError for everything else (``graph_db_builder.py:193-194,
320-321``). Here every source kind is a declarative ``spark.read``:
the format string routes, options pass through, and Catalyst handles
pushdown per connector.

Source spec (what the YAML config's ``Sources:`` section compiles to)::

    {"source type": "parquet"|"csv"|"json"|"orc"|"jdbc",
     "path": dir-or-file,            # file formats
     "url": ..., "dbtable"/"table": ..., "user": ..., ...}  # jdbc
"""

from __future__ import annotations

import configparser
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Option-file keys that map onto the JDBC connection (anything else in
# the file — prompt settings, pager — is client-local and ignored, as
# Spark's JDBC connector has its own option namespace).
_MYSQL_OPTION_KEYS = ("host", "port", "user", "password", "database")

# my.cnf client options with a Connector/J equivalent: parsed keys are
# normalized (dash→underscore), then emitted VERBATIM as Spark JDBC
# reader options — Spark forwards every option it doesn't recognize to
# the JDBC driver as a connection property, so these reach Connector/J
# untouched. connect-timeout is seconds client-side, milliseconds in
# Connector/J (the one value conversion).
_MYSQL_DIALECT_KEYS = {
    "ssl_mode": "sslMode",
    "default_character_set": "characterEncoding",
    "connect_timeout": "connectTimeout",
}


def parse_mysql_option_file(
    path: str, groups: tuple[str, ...] = ("client", "mysql", "connector_python")
) -> dict[str, str]:
    """Parse a MySQL option file (``~/.my.cnf`` dialect) into a flat
    option dict — the reference's actual connection contract
    (``sql_io.py:4-13`` passes ``option_files=`` to mysql.connector,
    which reads the [client]/[mysql]/[connector_python] groups;
    ``bin/build-graph-db:11-13`` defaults ``-m`` to ``~/.my.cnf``).

    Later groups override earlier ones (mysql.connector precedence).
    Quoted values are unquoted; ``!include`` directives are client-side
    only and skipped.
    """
    path = os.path.expanduser(path)
    parser = configparser.ConfigParser(
        allow_no_value=True, strict=False, interpolation=None
    )
    with open(path) as fh:
        # my.cnf allows !include/!includedir directives configparser
        # chokes on; they reference client-local files, so drop them.
        text = "".join(line for line in fh if not line.lstrip().startswith("!"))
    parser.read_string(text, source=path)
    out: dict[str, str] = {}
    for group in groups:
        if parser.has_section(group):
            for key, value in parser.items(group):
                if value is None:
                    continue
                value = value.strip()
                if len(value) >= 2 and value[0] == value[-1] and value[0] in "\"'":
                    value = value[1:-1]
                out[key.replace("-", "_")] = value
    return {
        k: v
        for k, v in out.items()
        if k in _MYSQL_OPTION_KEYS or k in _MYSQL_DIALECT_KEYS
    }


def mysql_source_to_jdbc(source: dict[str, Any]) -> dict[str, Any]:
    """Compile the reference's mysql source dialect (config.yml:10-13:
    'source type: mysql', 'database name', 'config file') into a Spark
    JDBC source spec. An unreachable server surfaces at load() and
    ``GraphDBBuilder.build(skip_bad_sources=True)`` soft-skips it, the
    reference's behavior (``graph_db_builder.py:317-319``).

    'config file' is the reference's option-file contract
    (``sql_io.py:4-13``): values parsed from it are connection
    DEFAULTS; inline YAML keys override them.
    """
    file_opts: dict[str, str] = {}
    if source.get("config file"):
        file_opts = parse_mysql_option_file(source["config file"])
    host = source.get("host", file_opts.get("host", "localhost"))
    port = source.get("port", file_opts.get("port", 3306))
    db = source.get(
        "database name", source.get("database", file_opts.get("database", ""))
    )
    url = source.get("url", f"jdbc:mysql://{host}:{port}/{db}")
    opts = {k: v for k, v in file_opts.items() if k in ("user", "password")}
    # MySQL-dialect client options → Connector/J property names. Spark
    # forwards unrecognized reader options to the driver as connection
    # properties, so the values below reach Connector/J verbatim.
    for cnf_key, jdbc_key in _MYSQL_DIALECT_KEYS.items():
        if cnf_key in file_opts:
            value = file_opts[cnf_key]
            if cnf_key == "connect_timeout":  # seconds → milliseconds
                value = str(int(value) * 1000)
            opts[jdbc_key] = value
    opts.update(
        {k: v for k, v in source.items()
         if k in ("user", "password", "driver", "fetchsize",
                  "partitionColumn", "lowerBound", "upperBound", "numPartitions")}
    )
    # Inline dialect properties (YAML `properties:` map) pass through
    # verbatim and override the option file, like the other inline keys.
    opts.update({str(k): str(v) for k, v in (source.get("properties") or {}).items()})
    opts.setdefault("driver", "com.mysql.cj.jdbc.Driver")
    return {"source type": "jdbc", "url": url, **opts}


def source_kind(source: dict[str, Any]) -> str:
    """The declared source type, lower-cased; parquet when absent."""
    return (source.get("source type") or source.get("type") or "parquet").lower()


def resolve_path(source: dict[str, Any], table: str) -> str:
    """The file or directory a file-format source reads for ``table``:
    ``{path}/{table}.{ext}`` if it exists, else ``{path}/{table}``, or
    ``path`` itself when it is not a directory."""
    path = source["path"]
    if os.path.isdir(path):
        kind = source_kind(source)
        candidate = os.path.join(path, f"{table}.{kind}")
        path = candidate if os.path.exists(candidate) else os.path.join(path, table)
    return path


def read_source(
    spark: SparkSession,
    source: dict[str, Any],
    table: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Read ``table`` from a declared source.

    File-format sources resolve ``{path}/{table}.{ext}`` (or ``path``
    itself if it is a file). JDBC sources push ``table`` down as
    ``dbtable`` — Spark's JDBC connector does predicate pushdown and
    (with partitionColumn options) parallel range reads, replacing the
    reference's single unbuffered cursor (``graph_db_builder.py:482-486``).
    """
    kind = source_kind(source)
    if kind == "mysql":
        source = mysql_source_to_jdbc(source)
        kind = "jdbc"
    if kind == "jdbc":
        reader = spark.read.format("jdbc")
        for k, v in source.items():
            if k in ("source type", "type"):
                continue
            reader = reader.option(k, v)
        reader = reader.option("dbtable", source.get("dbtable", table))
        return reader.load()

    path = resolve_path(source, table)
    if kind == "parquet":
        return spark.read.parquet(path)
    if kind == "orc":
        return spark.read.orc(path)
    if kind == "csv":
        reader = spark.read.option("header", "true")
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", "true")
        return reader.csv(path)
    if kind == "json":
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.json(path)
    raise ValueError(f"unsupported source type: {kind!r}")
