"""The benchmark's workloads.

Each workload generates its inputs from the seed, runs one *op* at a
time (closed loop, one client) and checks its results against DuckDB:

- ``graph_build``: one op is a whole graph build from a YAML config —
  ``GraphDBBuilder.build()``, ``write()`` as parquet, then
  ``export_for_neo4j_admin``. Checked by reading the written tables back
  with DuckDB and comparing them with DuckDB's own evaluation of the
  config over the same inputs.
- ``curation_batch``: one op is one Python-kernel or materializing
  registry operator followed by a noop write, with the cache cleared
  between ops. Checked against the operator's registry oracle.

The first warm-up pass runs every op kind once and doubles as the
correctness pass: its results are kept and compared after set-up is
timed. ``warmup_passes`` says how many passes set-up runs in all.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import duckdb
from pyspark.sql import SparkSession

from perfbench import gen
from perfbench.statusstore import catalyst_phases_ms
from perfbench.trace import Tracer
from tools.verify_local import table_hash


@dataclass
class Inputs:
    """What a workload generated: row counts and bytes on disk."""

    rows: dict[str, int]
    bytes: int
    params: dict[str, float]


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; Spark's
    ``_SUCCESS`` markers and ``.crc`` checksums are not data."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return total, files


class CurationWorkload:
    """Registry operators run as ``fn(spark, sf)`` plus a noop write, with
    the cache cleared between ops."""

    name = "curation_batch"
    # One operator per mechanism the materialization and Arrow-kernel work
    # changes: mapInPandas vector kernels (cosine top-k, image hamming),
    # mapInArrow plus localCheckpoint (k-center) and .cache() (minhash).
    # Warm-up runs them in this order; with minhash last, set-up is about
    # 5 s shorter and minhash's first timed run is closer to steady.
    kinds = ["sim_cosine_topk", "dedup_image_hamming", "select_kcenter_coreset", "dedup_minhash"]
    warmup_passes = 1

    def __init__(self, scale: float):
        self.scale = scale
        self.sf = ""
        self.fns = {}

    def prepare(self, out_dir: str, seed: int) -> Inputs:
        from graphdbetl_spark.plans.registry import all_queries

        queries = all_queries()
        self.fns = {kind: queries[kind] for kind in self.kinds}
        self.sf = os.path.join(out_dir, "catalog")
        rows = gen.write_catalog(self.sf, seed, self.scale, gen.CURATION_TABLES)
        return Inputs(rows, _dir_bytes(self.sf)[0], {"scale": self.scale})

    def op(self, spark: SparkSession, kind: str, tracer: Tracer) -> dict[str, float]:
        out: dict[str, float] = {}
        with tracer.span("plans.construct"):
            df = self.fns[kind](spark, self.sf)
        if tracer.enabled:
            with tracer.span("catalyst.plan"):
                out.update({f"catalyst.{k}_ms": float(v) for k, v in catalyst_phases_ms(df).items()})
        with tracer.span("plans.action"):
            df.write.format("noop").mode("overwrite").save()
        return out

    def between(self, spark: SparkSession, traced: bool) -> dict[str, float]:
        spark.catalog.clearCache()
        return {}

    def warmup(self, spark: SparkSession, kind: str):
        df = self.fns[kind](spark, self.sf)
        rows, cols = df.collect(), df.columns
        self.between(spark, False)
        return rows, cols

    def verify(self, results: dict[str, tuple]) -> dict[str, str]:
        """Failures by kind: row count, column names and the
        order-insensitive value hash must equal the oracle's."""
        from graphdbetl_spark.plans.registry import all_oracles

        oracles = all_oracles()
        failures: dict[str, str] = {}
        con = duckdb.connect()
        try:
            for t in gen.CURATION_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
            for kind, (rows, cols) in results.items():
                if kind not in oracles:
                    failures[kind] = "no oracle"
                    continue
                res = con.execute(oracles[kind])
                ocols = [d[0] for d in res.description]
                got, want = table_hash(rows, cols), table_hash(res.fetchall(), ocols)
                if got != want or sorted(cols) != sorted(ocols):
                    failures[kind] = f"spark {got} {sorted(cols)} vs oracle {want} {sorted(ocols)}"
        finally:
            con.close()
        return failures


class GraphWorkload:
    """Graph builds from a YAML config over generated sources."""

    name = "graph_build"
    kinds = ["build"]
    # The build after the cold one still runs 20-70 % slower than later
    # ones while the JIT compiles, so set-up runs two builds.
    warmup_passes = 2

    def __init__(self, scale: float, overlap: float):
        self.scale, self.overlap = scale, overlap
        self.config = ""
        self.out_root = ""
        self._seq = 0
        self._out = ""
        self.rows_written = 0
        self.merge_ratio = 0.0
        self.stored_bytes_per_row = 0.0

    def prepare(self, out_dir: str, seed: int) -> Inputs:
        made = gen.write_graph_input(os.path.join(out_dir, "graph_in"), seed, self.scale, self.overlap)
        self.config = made["config"]
        self.out_root = os.path.join(out_dir, "graph_out")
        src = os.path.dirname(self.config)
        return Inputs(made["rows"], _dir_bytes(src)[0],
                      {"scale": self.scale, "overlap": self.overlap})

    def op(self, spark: SparkSession, kind: str, tracer: Tracer) -> dict[str, float]:
        from graphdbetl_spark.etl.builder import GraphDBBuilder
        from graphdbetl_spark.etl.neo4j_export import export_for_neo4j_admin

        self._seq += 1
        self._out = os.path.join(self.out_root, f"op{self._seq}")
        out: dict[str, float] = {}
        with tracer.span("etl.build"):
            builder = GraphDBBuilder.from_config_file(spark, self.config).build()
        if tracer.enabled:
            with tracer.span("catalyst.plan"):
                types = list(builder.nodes.values()) + list(builder.relationships.values())
                for t in types:
                    for k, v in catalyst_phases_ms(t.dataframe).items():
                        out[f"catalyst.{k}_ms"] = out.get(f"catalyst.{k}_ms", 0.0) + v
        with tracer.span("etl.write"):
            builder.write(os.path.join(self._out, "graph"))
        with tracer.span("etl.export"):
            export_for_neo4j_admin(builder, os.path.join(self._out, "neo4j"))
        return out

    def between(self, spark: SparkSession, traced: bool) -> dict[str, float]:
        out: dict[str, float] = {}
        if traced:
            graph_bytes, graph_files = _dir_bytes(os.path.join(self._out, "graph"))
            csv_bytes, csv_files = _dir_bytes(os.path.join(self._out, "neo4j"))
            out = {
                "etl.rows_written": float(self.rows_written),
                "etl.merge_ratio": self.merge_ratio,
                "etl.bytes_written": float(graph_bytes + csv_bytes),
                "etl.files_written": float(graph_files + csv_files),
                "etl.stored_bytes_per_row": graph_bytes / max(1, self.rows_written),
            }
        shutil.rmtree(self._out, ignore_errors=True)
        return out

    def warmup(self, spark: SparkSession, kind: str):
        self.op(spark, kind, Tracer(False))
        kept = self._out  # read back by verify(); removed with the run directory
        return kept, _dir_bytes(os.path.join(kept, "graph"))[0]

    def verify(self, results: dict[str, tuple]) -> dict[str, str]:
        """Compare every written node and relationship table with DuckDB's
        evaluation of the config (same columns, and no row in one that is
        not in the other, counting duplicates), and the neo4j CSVs' row
        counts with the tables'. Sets ``rows_written`` and ``merge_ratio``."""
        import yaml

        (out_dir, graph_bytes), = results.values()
        with open(self.config) as fh:
            config = yaml.safe_load(fh)
        failures: dict[str, str] = {}
        con = duckdb.connect()
        rows_in = rows_nodes = rows_edges = 0
        try:
            for kind, label, sql in _graph_oracles(config):
                written = os.path.join(out_dir, "graph", kind, label)
                con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet('{written}/*.parquet')")
                con.execute(f"CREATE OR REPLACE VIEW want AS {sql}")
                gcols = sorted(d[0] for d in con.execute("SELECT * FROM got LIMIT 0").description)
                wcols = sorted(d[0] for d in con.execute("SELECT * FROM want LIMIT 0").description)
                n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
                if gcols != wcols:
                    failures[f"{kind}/{label}"] = f"written columns {gcols} vs duckdb {wcols}"
                else:
                    cols = ", ".join(gcols)
                    missing, extra = con.execute(
                        f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got)), "
                        f"(SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want))"
                    ).fetchone()
                    if missing or extra:
                        failures[f"{kind}/{label}"] = f"{missing} duckdb rows not written, {extra} written rows not in duckdb"
                csv = os.path.join(out_dir, "neo4j", kind, label)
                n_csv = con.execute(
                    f"SELECT count(*) FROM read_csv('{csv}/*.csv', header = true, all_varchar = true)"
                ).fetchone()[0]
                if n_csv != n_got:
                    failures[f"{kind}/{label}.csv"] = f"{n_csv} exported rows vs {n_got} written"
                if kind == "nodes":
                    rows_nodes += n_got
                    rows_in += con.execute(f"SELECT count(*) FROM ({_node_union(config, label)})").fetchone()[0]
                else:
                    rows_edges += n_got
        finally:
            con.close()
        self.rows_written = rows_nodes + rows_edges
        self.merge_ratio = rows_nodes / max(1, rows_in)
        self.stored_bytes_per_row = graph_bytes / max(1, self.rows_written)
        return failures


def _duck_relation(source: dict, table: str) -> str:
    kind = (source.get("source type") or source.get("type")).lower()
    reader = {"parquet": "read_parquet", "json": "read_json_auto", "csv": "read_csv_auto"}[kind]
    return f"{reader}('{source['path']}/{table}.{kind}')"


def _node_union(config: dict, label: str) -> str:
    """Every source row of node ``label`` with the builder's canonical
    ``_id``/``_uri``/``_source`` columns; columns a source lacks are NULL."""
    db = config.get("Database", {}).get("name", "graph")
    parts = []
    for src_name, src in config["Nodes"][label]["sources"].items():
        uri = f"CAST({src['uri_key']} AS VARCHAR)" if src.get("uri_key") else "NULL"
        parts.append(
            f"SELECT *, '{src['table']}:' || CAST({src['id_key']} AS VARCHAR) AS _id, "
            f"concat_ws('/', '{db}', '{label}', {uri}) AS _uri, '{src_name}' AS _source "
            f"FROM {_duck_relation(config['Sources'][src_name], src['table'])}"
        )
    return " UNION ALL BY NAME ".join(parts)


def _graph_oracles(config: dict):
    """(kind, label, DuckDB SQL) for every node and relationship type.
    Nodes merge by ``_id``: each column takes its value from the
    first source, in source-name order, where it is not null."""
    con = duckdb.connect()
    try:
        for label in config.get("Nodes", {}):
            union = _node_union(config, label)
            cols = [d[0] for d in con.execute(f"SELECT * FROM ({union}) LIMIT 0").description]
            aggs = ", ".join(
                f"arg_min({c}, _source) FILTER (WHERE {c} IS NOT NULL) AS {c}" for c in cols if c != "_id"
            )
            yield "nodes", label, f"SELECT _id, {aggs} FROM ({union}) GROUP BY _id"
    finally:
        con.close()
    for label, spec in config.get("Relationships", {}).items():
        parts = []
        for src_name, src in spec["sources"].items():
            source = config["Sources"][src_name]
            if src["type"] == "foreign_key":
                s, e = src["start"], src["end"]
                parts.append(
                    f"SELECT '{s['table']}:' || CAST(s.{s.get('id_key', s['key'])} AS VARCHAR) AS _start_id, "
                    f"'{e['table']}:' || CAST(e.{e.get('id_key', e['key'])} AS VARCHAR) AS _end_id, "
                    f"'{src_name}' AS _source FROM {_duck_relation(source, s['table'])} s "
                    f"JOIN {_duck_relation(source, e['table'])} e ON s.{s['key']} = e.{e['key']}"
                )
            else:
                parts.append(
                    f"SELECT '{src.get('from_table', src['table'])}:' || CAST({src['from_field']} AS VARCHAR) AS _start_id, "
                    f"'{src.get('to_table', src['table'])}:' || CAST({src['to_field']} AS VARCHAR) AS _end_id, "
                    f"'{src_name}' AS _source FROM {_duck_relation(source, src['table'])}"
                )
        yield "relationships", label, " UNION ALL ".join(parts)


# Scales are shares of the sf1 row counts. The graph build reads an input
# shaped like sf0.1 at 0.03 of sf1 (about 7 MB, 180 000 lineitems), so the
# merge shuffle and the writers carry data; at 0.1 a run (set-up of two
# cold builds plus one timed build) took 67-86 s on a 4-core host, too
# long for 22 runs of each workload in under an hour. The curation
# operators' pair and kernel work grows faster than their input; at 0.1
# a run takes over three minutes, so they run at 0.01.
WORKLOADS = {
    "graph_build": lambda: GraphWorkload(scale=0.03, overlap=0.5),
    "curation_batch": lambda: CurationWorkload(scale=0.01),
}
