"""Neo4j bulk-load export (reference D7: "stream the HDF5 database into
a GDMS (e.g., Neo4j)", graph_db_builder.py:127-128 — declared, never
implemented).

Emits the CSV layout `neo4j-admin database import` consumes: node files
with an `:ID`/`:LABEL` header and relationship files with
`:START_ID`/`:END_ID`/`:TYPE`. Partition-parallel CSV writes; at
cluster scale each partition's shard is one import file. (The live
`org.neo4j.spark.DataSource` connector would slot in behind the same
method if its jar is on the classpath; CSV is the dependency-free
path.)

After ``GraphDBBuilder.write()`` each type's ``dataframe`` is the
written parquet table, so the export is one scan-and-write job per type
over the written graph: no source re-read, merge shuffle or FK join,
and the CSVs hold exactly the rows the parquet graph holds.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from graphdbetl_spark.etl.builder import (
    EDGE_DST_ID,
    EDGE_SRC_ID,
    NODE_ID,
    GraphDBBuilder,
)


def export_for_neo4j_admin(
    builder: GraphDBBuilder, out_dir: str
) -> dict[str, dict[str, str]]:
    """Write every built node/relationship table as neo4j-admin import
    CSVs. Returns ``{"nodes": {label: path}, "relationships": {type:
    path}}`` — keyed by kind, so a node label and a relationship type
    sharing a name can't overwrite each other's entry. Property columns
    keep their names; canonical columns map onto the import headers."""
    if not builder.nodes and not builder.relationships:
        builder.build()
    written: dict[str, dict[str, str]] = {"nodes": {}, "relationships": {}}

    for label, node in builder.nodes.items():
        df = node.dataframe
        props = [c for c in df.columns if not c.startswith("_")]
        out = df.select(
            F.col(NODE_ID).alias("nodeId:ID"),
            F.lit(label).alias(":LABEL"),
            *[F.col(c).cast("string").alias(c) for c in props],
        )
        path = os.path.join(out_dir, "nodes", label)
        out.write.mode("overwrite").option("header", "true").option("emptyValue", "").csv(path)
        written["nodes"][label] = path

    for label, rel in builder.relationships.items():
        df = rel.dataframe
        props = [c for c in df.columns if not c.startswith("_")]
        out = df.select(
            F.col(EDGE_SRC_ID).alias(":START_ID"),
            F.col(EDGE_DST_ID).alias(":END_ID"),
            F.lit(label).alias(":TYPE"),
            *[F.col(c).cast("string").alias(c) for c in props],
        )
        path = os.path.join(out_dir, "relationships", label)
        out.write.mode("overwrite").option("header", "true").option("emptyValue", "").csv(path)
        written["relationships"][label] = path

    return written
