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
and the CSVs hold exactly the rows the parquet graph holds. The per-type
jobs are submitted together and run concurrently.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from graphdbetl_spark.etl.builder import (
    EDGE_DST_ID,
    EDGE_SRC_ID,
    NODE_ID,
    GraphDBBuilder,
    NodeType,
    RelationshipType,
)


def export_for_neo4j_admin(
    builder: GraphDBBuilder, out_dir: str
) -> dict[str, dict[str, str]]:
    """Write every built node/relationship table as neo4j-admin import
    CSVs. Returns ``{"nodes": {label: path}, "relationships": {type:
    path}}`` — keyed by kind, so a node label and a relationship type
    sharing a name can't overwrite each other's entry. Property columns
    keep their names; canonical columns map onto the import headers.
    Like ``write(fmt="csv")``, an ``out_dir`` that would overwrite the
    parquet a type reads raises ``ValueError`` before any job runs."""
    if not builder.nodes and not builder.relationships:
        builder.build()
    written = builder._output_paths(out_dir)

    def export_one(kind: str, label: str, t: NodeType | RelationshipType) -> None:
        df = t.dataframe
        props = [c for c in df.columns if not c.startswith("_")]
        if kind == "nodes":
            ids = [F.col(NODE_ID).alias("nodeId:ID"), F.lit(label).alias(":LABEL")]
        else:
            ids = [F.col(EDGE_SRC_ID).alias(":START_ID"), F.col(EDGE_DST_ID).alias(":END_ID"),
                   F.lit(label).alias(":TYPE")]
        out = df.select(*ids, *[F.col(c).cast("string").alias(c) for c in props])
        out.write.mode("overwrite").option("header", "true").option("emptyValue", "").csv(written[kind][label])

    builder._each_type(export_one)
    return written
