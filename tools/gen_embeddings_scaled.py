"""Generate an N× replicated embeddings table for far-past-100× ANN
and near-dup walls (r6 verdict #6: show the banding CONSTANTS hold,
not just the shapes).

Replication follows gen_scaled.py's philosophy: exact clones would
measure an adversarial workload (every vector gaining N-1 exact
duplicates makes every LSH/sign bucket quadratic in N), not scale-up.
Each copy i > 0 gets vec_id offset by i·10M and a deterministic
per-(copy, vector) Gaussian perturbation (numpy default_rng seeded by
the copy index) of ~7% relative magnitude — large enough that copies
form their own neighborhoods, small enough that the distribution
stays comparable. Copy 0 is the original values, so sf0.1-level
results embed unchanged. ``write_embeddings`` is the one embeddings
replication recipe; tools/gen_scaled.py writes its embeddings with it.

Usage: python tools/gen_embeddings_scaled.py [out_dir] [copies]
       (default: testdata_emb1000, 1000)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1/embeddings.parquet"
OFF = 10_000_000


def write_embeddings(dest: str, copies: int, src: str = SRC) -> int:
    """Write ``copies`` copies of ``src``'s embeddings to the parquet file
    ``dest``: copy i > 0 offsets vec_id by i·OFF and adds its perturbation,
    copy 0 keeps the original values. Returns the number of rows."""
    t = pq.read_table(src)
    vec_id = t.column("vec_id").to_numpy()
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    label = t.column("label").to_numpy()
    scale = 0.07 * float(np.sqrt((emb.astype(np.float64) ** 2).sum(axis=1)).mean())

    writer = None
    for i in range(copies):
        if i == 0:
            e = emb
        else:
            rng = np.random.default_rng(i)
            e = (emb + rng.normal(0.0, scale, size=emb.shape)).astype(np.float32)
        batch = pa.table(
            {
                "vec_id": pa.array(vec_id + i * OFF, type=pa.int64()),
                "embedding": pa.array(list(e), type=pa.list_(pa.float32())),
                "label": pa.array(label, type=pa.int32()),
            }
        )
        if writer is None:
            writer = pq.ParquetWriter(dest, batch.schema)
        writer.write_table(batch)
    assert writer is not None
    writer.close()
    return copies * len(vec_id)


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "testdata_emb1000"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    os.makedirs(out_dir, exist_ok=True)
    dest = os.path.join(out_dir, "embeddings.parquet")
    rows = write_embeddings(dest, copies)
    print(f"{rows} rows -> {dest}", flush=True)


if __name__ == "__main__":
    main()
