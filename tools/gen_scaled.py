"""Generate a replicated ~NX scale set from sf0.1 for headroom runs.

/root/testdata is read-only and tops out at sf0.1, so the "does the
curve hold at 10x?" measurement (BASELINE.md headroom table) uses a
replicated set: each fact table is unioned N times with all PK/FK
columns offset per copy — joins behave like N independent sf0.1
instances over the SAME dimension tables (region/nation are fixed
cardinality and copied as-is, like real reference data).

Document text gets every token suffixed with a per-copy marker (copy 0
keeps the original), so each copy carries its own vocabulary: the
near-dup/contamination workload scales linearly (N independent
corpora), instead of every doc gaining 9 exact clones and the
candidate-pair count scaling quadratically — which would measure a
different (adversarial-clone) workload, not scale-up. Embeddings
follow the same rule through tools/gen_embeddings_scaled.py's
``write_embeddings``: each copy i > 0 offsets ``vec_id`` and adds its own
deterministic Gaussian perturbation (copy 0 keeps the original values),
so a query's neighbours are not its own exact clones from other copies.

Usage: python tools/gen_scaled.py [out_dir] [copies]   (default: testdata_sf1, 10)
"""

from __future__ import annotations

import os
import sys

import duckdb
from gen_embeddings_scaled import write_embeddings

SRC = "/root/testdata/sf0.1"
OFF = 10_000_000  # > any key in sf0.1; per-copy key stride

# table -> columns to offset per copy
OFFSETS: dict[str, list[str]] = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
}


def copy_select(table: str, i: int) -> str:
    cols = duckdb.connect().execute(
        f"DESCRIBE SELECT * FROM '{SRC}/{table}.parquet'"
    ).fetchall()
    exprs = []
    for name, _type, *_ in cols:
        if name in OFFSETS[table]:
            exprs.append(f"{name} + {i * OFF} AS {name}")
        elif table == "documents" and name == "text" and i > 0:
            # distinct vocabulary per copy; regex '\S+' suffixes every token
            exprs.append(rf"regexp_replace(text, '(\S+)', '\1c{i}', 'g') AS text")
        else:
            exprs.append(name)
    return f"SELECT {', '.join(exprs)} FROM '{SRC}/{table}.parquet'"


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "testdata_sf1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for table, off_cols in OFFSETS.items():
        n = 1 if not off_cols and table in ("region", "nation") else copies
        union = " UNION ALL ".join(copy_select(table, i) for i in range(n))
        dest = os.path.join(out_dir, f"{table}.parquet")
        con.execute(f"COPY ({union}) TO '{dest}' (FORMAT PARQUET)")
        rows = con.execute(f"SELECT count(*) FROM '{dest}'").fetchone()[0]
        print(f"{table}: {rows} rows -> {dest}", flush=True)
    dest = os.path.join(out_dir, "embeddings.parquet")
    rows = write_embeddings(dest, copies, src=f"{SRC}/embeddings.parquet")
    print(f"embeddings: {rows} rows -> {dest}", flush=True)


if __name__ == "__main__":
    main()
