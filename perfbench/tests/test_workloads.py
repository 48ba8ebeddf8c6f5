import glob
import os

import duckdb

from perfbench.workloads import GraphWorkload


def test_graph_check_accepts_a_build_and_catches_a_lost_row(spark, tmp_path):
    wl = GraphWorkload(scale=0.001, overlap=0.5)
    wl.prepare(str(tmp_path / "in"), seed=3)
    kept = wl.warmup(spark, "build")
    assert wl.verify({"build": kept}) == {}
    assert wl.rows_written > 0
    assert 0 < wl.merge_ratio < 1

    part = os.path.join(kept[0], "graph", "nodes", "Part")
    files = glob.glob(f"{part}/*.parquet")
    short = str(tmp_path / "short.parquet")
    duckdb.execute(f"COPY (SELECT * FROM read_parquet('{part}/*.parquet') ORDER BY _id OFFSET 1) TO '{short}'")
    for f in files:
        os.remove(f)
    os.rename(short, os.path.join(part, "short.parquet"))
    failures = wl.verify({"build": kept})
    assert "1 duckdb rows not written" in failures["nodes/Part"]
    assert "nodes/Part.csv" in failures
