"""Graph-ETL builder: YAML config → node/relationship DataFrame pipelines.

Re-expresses the reference's whole lifecycle (SURVEY.md §3) Spark-first.
The reference (``graphetl/graph_db_builder.py``) parses a YAML config
(:545-549), peeks source schemas (:157,173-177), harmonizes fields per
node type (:410-426), then streams rows one at a time into PyTables
(:491-543); relationship building, dedup, CSV export are declared TODOs
(:344-345, :404-405, :407-408, :493-497). Here each node/relationship
type compiles to ONE lazy DataFrame:

    scan -> cast -> conform(merged schema) -> unionByName
         -> dedup(id_key, first-wins) -> uri column -> sink

so Catalyst owns pushdown/pruning and the write is partition-parallel
columnar parquet (replacing the row-append sink R9 and the BLOCK_SIZE
TODO D8). Across a build the pipeline runs each piece of work once:

    plan each source once per file version (sources.catalog.read_cached)
      -> write each type once (write)
      -> export reads the written graph (neo4j_export, serialize_data)

The types do not depend on each other once planned, so ``write()`` and
the export submit every type's jobs at once, one driver thread per type
(``_each_type``), and Spark's one scheduler runs them side by side.
After ``write()`` (parquet) each type's ``dataframe`` is the written
table, read back with the schema it was built with, so later consumers
scan those files instead of re-running scan -> merge -> join from the
sources — and agree with the written graph even if a source changed.

Config dialect (examples/comptox_ai/config.yml):

    Database: {name, version, author, ...}
    Sources:  {NAME: {source type: parquet|csv|json|jdbc|mysql, path|url...}}
    Nodes:    {Label: {id_key_label?, sources: {SRC: {table, id_key, uri_key}}}}
    Relationships:
      {TYPE: {sources: {SRC:
          {type: foreign_key, start: {node,table,key}, end: {node,table,key}}
        | {type: join_table, table, from_field, to_field}}}}
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

import yaml
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from graphdbetl_spark.etl.schema import conform_to_schema, merge_schemas
from graphdbetl_spark.operators.dedup import dedup_merge_by_source
from graphdbetl_spark.sources.catalog import read_cached

# Canonical output columns added to every node table.
NODE_ID = "_id"  # harmonized id (reference id_key, graph_db_builder.py:463-467)
NODE_URI = "_uri"  # derived uri (reference uri_key, graph_db_builder.py:467-469, D9)
NODE_SRC = "_source"  # provenance: which declared source produced the row
EDGE_SRC_ID = "_start_id"
EDGE_DST_ID = "_end_id"


def _type_name(kind: str, label: str) -> str:
    """``node type 'Label'`` / ``relationship type 'TYPE'``."""
    return f"{kind[:-1]} type {label!r}"


@dataclass
class NodeType:
    """Registry entry for a node label (reference NodeType dataclass,
    graph_db_builder.py:55-59, plus per-source id/uri keys)."""

    label: str
    id_key_label: str | None
    sources: dict[str, dict[str, Any]]  # source name -> {table, id_key, uri_key}
    dataframe: DataFrame | None = None
    written_to: str | None = None  # parquet dir ``dataframe`` reads, after write()


@dataclass
class RelationshipType:
    """Registry entry for a relationship type (reference
    RelationshipType, graph_db_builder.py:61-67)."""

    label: str
    sources: dict[str, dict[str, Any]]
    start_node: str | None = None
    end_node: str | None = None
    dataframe: DataFrame | None = None
    written_to: str | None = None  # parquet dir ``dataframe`` reads, after write()


@dataclass
class GraphDBBuilder:
    """Compile a config into lazy node/relationship DataFrames and
    materialize them as a parquet graph database.

    Unlike the reference, construction is side-effect free (no server
    connections at __init__ — SURVEY.md flags the reference's
    construction-time side effects, graph_db_builder.py:113-115);
    ``build()`` produces lazy plans, ``write()`` executes them and
    rebinds each type's ``dataframe`` to the written table.
    """

    spark: SparkSession
    config: dict[str, Any]
    nodes: dict[str, NodeType] = field(default_factory=dict)
    relationships: dict[str, RelationshipType] = field(default_factory=dict)
    # Reference contract: GraphDBBuilder(config_file_path, mysql_config_file)
    # with bin/build-graph-db:11-13 defaulting -m to ~/.my.cnf. When set,
    # it becomes the default 'config file' for every mysql source that
    # doesn't declare its own.
    mysql_config_file: str | None = None

    @classmethod
    def from_config_file(
        cls, spark: SparkSession, path: str, mysql_config_file: str | None = None
    ) -> "GraphDBBuilder":
        with open(path) as fh:
            return cls(spark, yaml.safe_load(fh), mysql_config_file=mysql_config_file)

    # -- config processing (reference _process_config, :292-329; strict,
    # -- unlike the reference's KeyError-swallowing variant, :325-329)

    def _source_spec(self, name: str) -> dict[str, Any]:
        try:
            spec = self.config["Sources"][name]
        except KeyError:
            raise KeyError(f"source {name!r} not declared in Sources") from None
        kind = (spec.get("source type") or spec.get("type") or "").lower()
        if kind == "mysql" and self.mysql_config_file and not spec.get("config file"):
            spec = {**spec, "config file": self.mysql_config_file}
        return spec

    def _read(self, source_name: str, table: str) -> DataFrame:
        return read_cached(self.spark, self._source_spec(source_name), table)

    # -- node pipeline (reference stages R2-R10 collapsed into one plan)

    def build_node(self, label: str) -> DataFrame:
        spec = self.config["Nodes"][label]
        node = NodeType(label, spec.get("id_key_label"), spec["sources"])

        # Per-source: scan, tag provenance, normalize id/uri onto
        # canonical columns so the merged schema lines up by name.
        # Optional per-source `fields` (projection) and `filter` (SQL
        # predicate) are declared in the config and land in the scan via
        # Catalyst pushdown — the reference always fetched every column
        # of every row (SELECT *, graph_db_builder.py:482).
        frames = []
        for src_name, src in node.sources.items():
            df = self._read(src_name, src["table"])
            if src.get("filter"):
                df = df.filter(src["filter"])
            if src.get("fields"):
                keep = list(dict.fromkeys(
                    list(src["fields"]) + [src["id_key"]]
                    + ([src["uri_key"]] if src.get("uri_key") else [])
                ))
                df = df.select(*keep)
            id_col = F.col(src["id_key"]).cast("string")
            uri_col = F.col(src["uri_key"]).cast("string") if src.get("uri_key") else F.lit(None).cast("string")
            # URI namespacing per source table keeps multi-source ids
            # collision-free (D9: F.concat(lit(prefix), col(uri_key))).
            db = self.config.get("Database", {}).get("name", "graph")
            frames.append(df.withColumns({
                NODE_ID: F.concat(F.lit(f"{src['table']}:"), id_col),
                NODE_URI: F.concat_ws("/", F.lit(db), F.lit(label), uri_col),
                NODE_SRC: F.lit(src_name),
            }))

        # Schema harmonization across sources (R5) + conform each (R6/R7).
        merged = merge_schemas([f.schema for f in frames])
        conformed = [conform_to_schema(f, merged) for f in frames]
        unioned = conformed[0]
        for other in conformed[1:]:
            unioned = unioned.unionByName(other)

        # D1: merge-by-id — first non-null value per column wins, sources
        # in name order, matching "merge the node data into an existing
        # record" (:463-467, :493-497).
        out = dedup_merge_by_source(unioned, NODE_ID, NODE_SRC, node.sources)
        node.dataframe = out
        self.nodes[label] = node
        return out

    # -- relationship pipelines (D2 foreign_key, D3 join_table)

    def build_relationship(self, label: str) -> DataFrame:
        spec = self.config["Relationships"][label]
        rel = RelationshipType(label, spec["sources"])
        frames = []
        for src_name, src in rel.sources.items():
            kind = src["type"]
            if kind == "foreign_key":
                start, end = src["start"], src["end"]
                rel.start_node, rel.end_node = start.get("node"), end.get("node")
                # Aliased sides: a self-referencing FK reads one cached
                # plan for both, and only the alias tells its sides apart.
                sdf = self._read(src_name, start["table"]).alias("_s")
                edf = self._read(src_name, end["table"]).alias("_e")
                s_col = lambda c: F.col(f"_s.`{c}`")  # noqa: E731
                e_col = lambda c: F.col(f"_e.`{c}`")  # noqa: E731
                # Equi-join on the FK; dimension side broadcasts when small
                # (AQE/threshold decide; no manual hint needed at scale).
                joined = sdf.join(edf, s_col(start["key"]) == e_col(end["key"]), "inner")
                frames.append(
                    joined.select(
                        F.concat(F.lit(f"{start['table']}:"), s_col(start.get("id_key", start["key"])).cast("string")).alias(EDGE_SRC_ID),
                        F.concat(F.lit(f"{end['table']}:"), e_col(end.get("id_key", end["key"])).cast("string")).alias(EDGE_DST_ID),
                        F.lit(src_name).alias(NODE_SRC),
                    )
                )
            elif kind == "join_table":
                # Bridge table: each row is one edge (D3). Endpoint ids
                # resolve by the same namespacing used in build_node.
                bridge = self._read(src_name, src["table"])
                start_tbl = src.get("from_table", src["table"])
                end_tbl = src.get("to_table", src["table"])
                frames.append(
                    bridge.select(
                        F.concat(F.lit(f"{start_tbl}:"), F.col(src["from_field"]).cast("string")).alias(EDGE_SRC_ID),
                        F.concat(F.lit(f"{end_tbl}:"), F.col(src["to_field"]).cast("string")).alias(EDGE_DST_ID),
                        F.lit(src_name).alias(NODE_SRC),
                    )
                )
            else:
                raise ValueError(f"unknown relationship type {kind!r} for {label}")
        out = frames[0]
        for other in frames[1:]:
            out = out.unionByName(other)
        rel.dataframe = out
        self.relationships[label] = rel
        return out

    # -- drivers

    def build(self, skip_bad_sources: bool = False) -> "GraphDBBuilder":
        """Compile every declared node and relationship type (lazy).

        ``skip_bad_sources=True`` mirrors the reference's soft-fail
        behavior — unreachable sources log a warning and their node /
        relationship types are skipped rather than failing the build
        (graph_db_builder.py:317-319). Default is strict.
        """
        import warnings

        for label in self.config.get("Nodes", {}):
            try:
                self.build_node(label)
            except Exception as e:
                if not skip_bad_sources:
                    raise
                warnings.warn(f"skipping node type {label!r}: {e}", stacklevel=2)
        for label in self.config.get("Relationships", {}):
            try:
                self.build_relationship(label)
            except Exception as e:
                if not skip_bad_sources:
                    raise
                warnings.warn(f"skipping relationship type {label!r}: {e}", stacklevel=2)
        return self

    def write(self, out_dir: str, fmt: str = "parquet") -> None:
        """Materialize the graph DB: ``out/nodes/<Label>``,
        ``out/relationships/<Type>`` (reference /nodes and
        /relationships HDF5 groups, :153-155; CSV export covers D6).
        The types are written concurrently (``_each_type``).

        A parquet write rebinds each type's ``dataframe`` to the table
        it wrote, so the type's plan executes once per build; CSV keeps
        the plan, since reading CSV back would lose the column types.
        A CSV write over a directory some type's ``dataframe`` reads
        raises ``ValueError`` before any job runs: overwrite mode would
        delete that parquet before reading it."""
        if not self.nodes and not self.relationships:
            self.build()
        paths = self._output_paths(out_dir, may_overwrite_input=fmt != "csv")
        self._each_type(lambda kind, label, t: self._write_one(t, paths[kind][label], fmt))

    def _output_paths(self, out_dir: str, may_overwrite_input: bool = False) -> dict[str, dict[str, str]]:
        """``{"nodes": {label: path}, "relationships": {type: path}}``
        under ``out_dir``, in config order. Unless ``may_overwrite_input``,
        a path that is some type's ``written_to`` raises ``ValueError``
        naming that type: overwriting it would delete the type's input."""
        paths: dict[str, dict[str, str]] = {"nodes": {}, "relationships": {}}
        for kind, label, _ in self._types():
            paths[kind][label] = os.path.join(out_dir, kind, label)
        if not may_overwrite_input:
            reads = {t.written_to: (kind, label) for kind, label, t in self._types() if t.written_to}
            clash = [reads[p] for by_label in paths.values() for p in map(os.path.abspath, by_label.values())
                     if p in reads]
            if clash:
                raise ValueError(
                    f"writing to {out_dir!r} would overwrite the parquet read by "
                    + ", ".join(_type_name(kind, label) for kind, label in clash)
                )
        return paths

    def _types(self):
        yield from (("nodes", label, t) for label, t in self.nodes.items())
        yield from (("relationships", label, t) for label, t in self.relationships.items())

    def _each_type(self, fn: Callable[[str, str, NodeType | RelationshipType], None]) -> None:
        """Run ``fn(kind, label, t)`` for every node type, then every
        relationship type, each on its own thread, so their Spark jobs
        run concurrently. Each thread keeps the caller's job group and
        local properties. Waits for all of them; if any failed, raises
        one ``RuntimeError`` naming every failed type, chained from the
        first failure. The other types are not cancelled: each writes
        only its own directory, so they finish and stay valid."""
        types = list(self._types())
        with ThreadPoolExecutor(max_workers=max(1, len(types)), thread_name_prefix="graph-type") as pool:
            futures = [pool.submit(inheritable_thread_target(self.spark)(fn), *kt) for kt in types]
        errors = [f.exception() for f in futures]
        failed = [_type_name(kind, label) for (kind, label, _), e in zip(types, errors) if e]
        if failed:
            raise RuntimeError("graph types failed: " + ", ".join(failed)) from next(filter(None, errors))

    def _write_one(self, t: NodeType | RelationshipType, path: str, fmt: str) -> None:
        path = os.path.abspath(path)
        if t.written_to == path:
            return  # ``dataframe`` already is this table; it cannot overwrite itself
        writer = t.dataframe.write.mode("overwrite")
        if fmt == "csv":
            writer.option("header", "true").csv(path)
            return
        writer.parquet(path)
        # The given schema spares the read-back a footer-inference job.
        t.dataframe = self.spark.read.schema(t.dataframe.schema).parquet(path)
        t.written_to = path

    # Reference parity alias (build_hdf5_database -> parquet database).
    def serialize_data(self, out_dir: str, to: str = "csv") -> None:
        """CSV/parquet serialization of the built DB (reference
        serialize_data stub, graph_db_builder.py:407-408, D6)."""
        self.write(out_dir, fmt=to)
