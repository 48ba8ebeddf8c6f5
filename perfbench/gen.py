"""Seeded input generators for the benchmark, written with DuckDB.

Every random value is a pure function of ``(seed, table, row, column)``
through DuckDB's ``hash``, so the same seed gives byte-identical tables
however many threads DuckDB uses.

- :func:`write_catalog` writes catalog tables the query registry reads,
  shaped like the sf0.1 fixture (same columns, types, value ranges and
  row ratios) at any ``scale``: the four a graph build reads and the two
  the curation operators read.
- :func:`write_graph_input` writes the sources and YAML config of a graph
  build: a parquet source holding four catalog tables and a JSON-lines
  ``crm`` source whose ``customer`` table overlaps the parquet one, so the
  node merge really merges.
"""

from __future__ import annotations

import os

import duckdb
import yaml

VOCAB = (
    "query row stream the part column order scan a slow agg key window table "
    "merge vector join spark line small fast group customer batch sort value "
    "hash filter big data"
).split()
PART_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPE = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EMBED_DIM = 64

# Rows per unit of scale (the sf0.1 fixture holds a tenth of these).
# No supplier table is written; its count bounds ``l_suppkey``.
ROWS_PER_SCALE = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}


def _sql_list(values: list[str]) -> str:
    return "[" + ", ".join("'" + v.replace("'", "''") + "'" for v in values) + "]"


def row_counts(scale: float) -> dict[str, int]:
    return {t: max(10, int(round(n * scale))) for t, n in ROWS_PER_SCALE.items()}


def _table_sql(table: str, seed: int, n: dict[str, int]) -> str:
    """SELECT producing one catalog table. ``u(k)`` is a uniform draw in
    [0, 1) keyed on the row and the salt ``k``; ``pick(k, list)`` picks
    one element of a SQL list."""

    def u(k: str, row: str = "i") -> str:
        return f"(hash({seed}, '{table}', {row}, '{k}') % 1000003) / 1000003.0"

    def pick(k: str, values: list[str]) -> str:
        return f"{_sql_list(values)}[1 + CAST(hash({seed}, '{table}', i, '{k}') % {len(values)} AS BIGINT)]"

    def key(k: str, of: str) -> str:
        return f"CAST(hash({seed}, '{table}', i, '{k}') % {n[of]} AS BIGINT)"

    money = lambda k, lo, hi: f"round({lo} + {u(k)} * {hi - lo}, 2)"  # noqa: E731
    rng = f"FROM range({n.get(table, 0)}) t(i)"
    if table == "customer":
        return (f"SELECT CAST(i AS BIGINT) AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name, "
                f"CAST(hash({seed}, 'customer', i, 'n') % 25 AS INTEGER) AS c_nationkey, "
                f"{money('b', -999.99, 9999.99)} AS c_acctbal, {pick('s', SEGMENTS)} AS c_mktsegment {rng}")
    if table == "part":
        return (f"SELECT CAST(i AS BIGINT) AS p_partkey, {pick('a', PART_ADJ)} || ' ' || {pick('n', PART_NOUN)} AS p_name, "
                f"'Brand#' || (1 + hash({seed}, 'part', i, 'b') % 25) AS p_brand, {pick('t', PART_TYPE)} AS p_type, "
                f"CAST(1 + hash({seed}, 'part', i, 'z') % 50 AS INTEGER) AS p_size, "
                f"round(900 + (i % 1000) / 10.0, 1) AS p_retailprice {rng}")
    if table == "orders":
        return (f"SELECT CAST(i AS BIGINT) AS o_orderkey, {key('c', 'customer')} AS o_custkey, "
                f"{pick('s', ['F', 'O', 'P'])} AS o_orderstatus, {money('p', 1000, 500000)} AS o_totalprice, "
                f"TIMESTAMP '1995-01-01' + to_days(CAST(hash({seed}, 'orders', i, 'd') % 2404 AS INTEGER)) AS o_orderdate, "
                f"{pick('r', PRIORITIES)} AS o_orderpriority {rng}")
    if table == "lineitem":
        return (f"SELECT {key('o', 'orders')} AS l_orderkey, {key('p', 'part')} AS l_partkey, "
                f"{key('s', 'supplier')} AS l_suppkey, CAST(1 + hash({seed}, 'lineitem', i, 'l') % 7 AS INTEGER) AS l_linenumber, "
                f"CAST(1 + hash({seed}, 'lineitem', i, 'q') % 50 AS DOUBLE) AS l_quantity, "
                f"{money('e', 900, 105000)} AS l_extendedprice, "
                f"CAST(hash({seed}, 'lineitem', i, 'd') % 11 AS DOUBLE) / 100 AS l_discount, "
                f"CAST(hash({seed}, 'lineitem', i, 't') % 9 AS DOUBLE) / 100 AS l_tax, "
                f"{pick('f', ['A', 'N', 'R'])} AS l_returnflag, {pick('x', ['F', 'O'])} AS l_linestatus, "
                f"TIMESTAMP '1995-01-02' + to_days(CAST(hash({seed}, 'lineitem', i, 'h') % 2498 AS INTEGER)) AS l_shipdate {rng}")
    if table == "documents":
        # Word soup of 10..100 tokens; every 25th document copies an
        # earlier one exactly and every 25th (offset 7) copies one with
        # three tokens replaced, so the dedup operators find real pairs.
        words = (f"list_transform(range(10 + CAST(hash({seed}, 'documents', i, 'n') % 91 AS BIGINT)), "
                 f"j -> {_sql_list(VOCAB)}[1 + CAST(hash({seed}, 'documents', i, j) % {len(VOCAB)} AS BIGINT)])")
        src = f"CASE WHEN i % 25 IN (0, 7) AND i > 0 THEN i - 1 - CAST(hash({seed}, 'dsrc', i) % least(i, 50) AS BIGINT) ELSE i END"
        return (f"WITH base AS (SELECT i, {words} AS w {rng}), "
                f"picked AS (SELECT t.i, CASE WHEN t.i % 25 = 7 AND t.i > 0 "
                f"THEN list_transform(b.w, (x, p) -> CASE WHEN p % 13 = 3 THEN 'dup' ELSE x END) ELSE b.w END AS w "
                f"FROM (SELECT i, {src} AS s {rng}) t JOIN base b ON b.i = t.s) "
                f"SELECT CAST(i AS BIGINT) AS doc_id, array_to_string(w, ' ') AS text, "
                f"{_sql_list(LANGS)}[1 + CAST(hash({seed}, 'documents', i, 'l') % {len(LANGS)} AS BIGINT)] AS lang, "
                f"'src' || (i % 20) AS source, CAST(length(array_to_string(w, ' ')) AS BIGINT) AS n_chars "
                f"FROM picked ORDER BY i")
    if table == "embeddings":
        # Box-Muller normals around one of ten label centres, unit norm.
        g = (f"sqrt(-2 * ln(({u('r', 'i * 64 + d')}) + 1e-9)) * "
             f"cos(2 * pi() * ({u('c', 'i * 64 + d')}))")
        centre = f"((hash({seed}, 'centre', label, d) % 2001) / 1000.0 - 1)"
        raw = f"list_transform(range({EMBED_DIM}), d -> 0.4 * {centre} + {g})"
        return (f"WITH v AS (SELECT i, label, {raw} AS e FROM "
                f"(SELECT i, CAST(hash({seed}, 'embeddings', i, 'l') % 10 AS INTEGER) AS label {rng})) "
                f"SELECT CAST(i AS BIGINT) AS vec_id, "
                f"CAST(list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS FLOAT[]) AS embedding, "
                f"label FROM v ORDER BY i")
    raise ValueError(f"unknown table {table!r}")


GRAPH_TABLES = ("customer", "part", "orders", "lineitem")
CURATION_TABLES = ("documents", "embeddings")
CATALOG_TABLES = GRAPH_TABLES + CURATION_TABLES


def write_catalog(out_dir: str, seed: int, scale: float,
                  tables: tuple[str, ...] = CATALOG_TABLES) -> dict[str, int]:
    """Write ``tables`` as ``<out_dir>/<table>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = row_counts(scale)
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(out_dir, f"{t}.parquet")
            con.execute(f"COPY ({_table_sql(t, seed, n)}) TO '{path}' (FORMAT PARQUET)")
        return {t: con.execute(f"SELECT count(*) FROM '{out_dir}/{t}.parquet'").fetchone()[0]
                for t in tables}
    finally:
        con.close()


def graph_config(core_dir: str, crm_dir: str) -> dict:
    """The graph the benchmark builds: three node types (``Customer`` from
    two overlapping sources), one ``foreign_key`` and one ``join_table``
    relationship."""
    return {
        "Database": {"name": "BenchGraph", "version": "1", "author": "perfbench"},
        "Sources": {
            "core": {"source type": "parquet", "path": core_dir},
            "crm": {"source type": "json", "path": crm_dir},
        },
        "Nodes": {
            "Customer": {
                "id_key_label": "customer_id",
                "sources": {
                    "core": {"table": "customer", "id_key": "c_custkey", "uri_key": "c_name"},
                    "crm": {"table": "customer", "id_key": "c_custkey", "uri_key": "c_name"},
                },
            },
            "Order": {"sources": {"core": {"table": "orders", "id_key": "o_orderkey", "uri_key": "o_orderkey"}}},
            "Part": {"sources": {"core": {"table": "part", "id_key": "p_partkey", "uri_key": "p_name"}}},
        },
        "Relationships": {
            "PLACED": {"sources": {"core": {
                "type": "foreign_key",
                "start": {"node": "Customer", "table": "customer", "key": "c_custkey"},
                "end": {"node": "Order", "table": "orders", "key": "o_custkey", "id_key": "o_orderkey"},
            }}},
            "CONTAINS": {"sources": {"core": {
                "type": "join_table", "table": "lineitem", "from_field": "l_orderkey",
                "to_field": "l_partkey", "from_table": "orders", "to_table": "part",
            }}},
        },
    }


def write_graph_input(out_dir: str, seed: int, scale: float, overlap: float) -> dict:
    """Write the graph-build sources under ``out_dir`` and the config to
    ``out_dir/config.yml``. The ``crm`` customer table has half as many
    rows as the ``core`` one; a share ``overlap`` of them reuse a ``core``
    id (so the merge collapses them) and the rest are new ids. ``crm``
    has a column ``core`` lacks (``c_phone``) and nulls in one it shares
    (``c_acctbal``), so first-wins merging fills from both sides.
    Returns the config path and the row count of every source table."""
    core_dir, crm_dir = os.path.join(out_dir, "core"), os.path.join(out_dir, "crm")
    rows = {f"core.{t}": c for t, c in write_catalog(core_dir, seed, scale, GRAPH_TABLES).items()}
    n_core = rows["core.customer"]
    n_crm = max(10, n_core // 2)
    n_shared = int(round(n_crm * overlap))
    os.makedirs(crm_dir, exist_ok=True)
    crm_path = os.path.join(crm_dir, "customer.json")
    h = lambda k: f"hash({seed}, 'crm', i, '{k}')"  # noqa: E731
    crm_sql = (
        f"SELECT CAST(CASE WHEN i < {n_shared} THEN {h('id')} % {n_core} ELSE {n_core} + i END AS BIGINT) AS c_custkey, "
        f"'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') || '-crm' AS c_name, "
        f"'+1-' || lpad(CAST({h('ph')} % 10000000 AS VARCHAR), 7, '0') AS c_phone, "
        f"CASE WHEN {h('nul')} % 10 < 3 THEN NULL ELSE round(({h('b')} % 1099999) / 100.0 - 999.99, 2) END AS c_acctbal "
        f"FROM range({n_crm}) t(i)"
    )
    con = duckdb.connect()
    try:
        # The hashed shared ids can repeat; keep one row per id so each
        # source has unique keys, as a keyed source table would.
        con.execute(f"COPY (SELECT * FROM ({crm_sql}) QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY c_name) = 1 "
                    f"ORDER BY c_custkey) TO '{crm_path}' (FORMAT JSON)")
        rows["crm.customer"] = con.execute(f"SELECT count(*) FROM read_json_auto('{crm_path}')").fetchone()[0]
    finally:
        con.close()
    config = graph_config(core_dir, crm_dir)
    config_path = os.path.join(out_dir, "config.yml")
    with open(config_path, "w") as fh:
        yaml.safe_dump(config, fh, sort_keys=False)
    return {"config": config_path, "rows": rows}
