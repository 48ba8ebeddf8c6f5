"""Round-8 hardening: selection zero-norm fail-fast and greedy MMR
semantics, and compact_plan schema/type consistency."""

import pytest

from graphdbetl_spark.etl.maintenance import compact_plan
from graphdbetl_spark.operators.coreset import kcenter_select


def _toy_corpus(spark, n=48, d=4):
    # Deterministic, norm>0, irregular directions: enough structure
    # that greedy picks are nontrivial, no RNG (replayable).
    rows = [
        (i, [float((i * 7 + j * 3) % 11 + (i * 5 + j * j) % 7 + 1) for j in range(d)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_kcenter_zero_norm_fails_fast(spark):
    """A zero-norm embedding would yield NaN cosine, which orders
    differently across numpy/Spark/DuckDB — fail fast instead of
    silently desyncing the oracle trajectory."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    with pytest.raises(Exception, match="zero-norm"):
        kcenter_select(emb, k=3).collect()
    # zero-norm SEED fails on the driver before any pass
    emb2 = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="zero-norm"):
        kcenter_select(emb2, k=2)


def test_compact_execute_round_trip(spark, tmp_path):
    """Executing the manifest must (a) place every row in its planned
    bin — read-back re-aggregation reproduces the manifest exactly —
    and (b) write exactly ONE file per (part, bin)."""
    import pyspark.sql.functions as F

    from graphdbetl_spark.etl.maintenance import compact_execute, compact_plan

    df = spark.createDataFrame(
        [("a", k, 60) for k in range(1, 8)] + [("b", k, 25) for k in range(1, 5)],
        ["part", "key", "sz"],
    )
    manifest = {
        (r["part"], r["bin"]): (r["n_rows"], r["bin_bytes"], r["min_key"], r["max_key"])
        for r in compact_plan(df, "part", "key", "sz", target_bytes=100).collect()
    }
    out = str(tmp_path / "compacted")
    compact_execute(df, out, "part", "key", "sz", target_bytes=100)
    back = spark.read.parquet(out)
    got = {
        (r["part"], r["bin"]): (r["n_rows"], r["bin_bytes"], r["min_key"], r["max_key"])
        for r in back.groupBy("part", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("sz").cast("long").alias("bin_bytes"),
            F.min("key").alias("min_key"),
            F.max("key").alias("max_key"),
        )
        .collect()
    }
    assert got == manifest
    files_per_bin = (
        back.withColumn("__f", F.input_file_name())
        .groupBy("part", "bin")
        .agg(F.countDistinct("__f").alias("n_files"))
        .collect()
    )
    assert files_per_bin and all(r["n_files"] == 1 for r in files_per_bin)
    assert back.count() == df.count()  # no row lost or duplicated


def test_compact_plan_empty_schema_matches_nonempty(spark):
    """The empty-input result must carry the SAME schema as the
    non-empty path — including a non-string partition column and a
    non-bigint key — so downstream unions and schema checks hold."""
    df = spark.createDataFrame([(7, 5, 10)], "part int, key int, sz long")
    full = compact_plan(df, "part", "key", "sz", target_bytes=100)
    empty = compact_plan(df.limit(0), "part", "key", "sz", target_bytes=100)
    assert empty.schema == full.schema
    assert empty.count() == 0
    assert full.count() == 1
    # and the two genuinely union (the downstream shape that broke)
    assert empty.unionByName(full).count() == 1


def test_mmr_greedy_semantics(spark):
    """Replay the greedy argmax driver-side with plain numpy: every
    step's pick must maximize 0.5·rel − 0.5·max-cos-to-selected over
    the remaining corpus (ties to the lower id), and the query row
    itself is excluded from the candidates."""
    import numpy as np

    from graphdbetl_spark.operators.coreset import mmr_select

    emb = _toy_corpus(spark, n=30)
    rows = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    got = mmr_select(emb, k=6).collect()

    qid = min(rows)
    q = rows[qid]
    cos = lambda a, b: float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    rel = {i: cos(v, q) for i, v in rows.items() if i != qid}
    sel: list[int] = []
    for step, r in enumerate(got, start=1):
        # scores: empty selected set -> 0.5*rel only
        def score(i):
            mc = max((cos(rows[i], rows[s]) for s in sel), default=None)
            return 0.5 * rel[i] - (0.5 * mc if mc is not None else 0.0)

        want = min(((-score(i), i) for i in rel if i not in sel))[1]
        assert r["step"] == step
        assert r["selected_id"] == want
        assert qid not in [x["selected_id"] for x in got]
        sel.append(r["selected_id"])


def test_mmr_zero_norm_fails_fast(spark):
    from graphdbetl_spark.operators.coreset import mmr_select

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="zero-norm"):
        mmr_select(emb, k=2).collect()


def test_compact_target_bins_scales_with_volume(spark, tmp_path):
    """target_bins derives the byte target from total volume, so the
    output file count stays ~constant as input grows — the property
    that keeps the bench entry measuring the engine, not file
    creation. 2x the data with the same target_bins must produce the
    same bin count (within one), not 2x the bins."""
    from graphdbetl_spark.etl.maintenance import compact_plan

    rows1 = [("a", i, 500) for i in range(100)]  # total 50 000 > floor
    rows2 = [("a", i, 500) for i in range(200)]  # total 100 000
    df1 = spark.createDataFrame(rows1, ["part", "key", "sz"])
    df2 = spark.createDataFrame(rows2, ["part", "key", "sz"])
    n1 = compact_plan(df1, "part", "key", "sz", target_bins=5).count()
    n2 = compact_plan(df2, "part", "key", "sz", target_bins=5).count()
    assert n1 == 5 and n2 == 5  # 2x data, same file count
    # the 4096-byte floor guards degenerate tiny inputs: 100 rows of
    # 10 bytes (total 1 000) pack into ONE bin, not 5 empty-ish ones
    tiny = spark.createDataFrame(
        [("a", i, 10) for i in range(100)], ["part", "key", "sz"]
    )
    assert compact_plan(tiny, "part", "key", "sz", target_bins=5).count() == 1


def test_compact_exactly_one_of_target_args(spark):
    import pytest as _pytest

    from graphdbetl_spark.etl.maintenance import compact_plan

    df = spark.createDataFrame([("a", 1, 10)], ["part", "key", "sz"])
    with _pytest.raises(ValueError, match="exactly one"):
        compact_plan(df, "part", "key", "sz").collect()
    with _pytest.raises(ValueError, match="exactly one"):
        compact_plan(df, "part", "key", "sz", target_bytes=10, target_bins=2).collect()


def test_containment_catches_subdocument_jaccard_misses(spark):
    """A short doc embedded whole in a much longer one must score
    containment 1.0 (oriented contained -> container) while its
    Jaccard stays far below any dedup threshold — the asymmetric
    measure's whole reason to exist."""
    from graphdbetl_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(80))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler.upper())],
        ["doc_id", "text"],
    )
    cont = ngram_containment_pairs(df, "text", "doc_id", n=3, threshold=0.8).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r["contained_id"], r["container_id"]) == (1, 2)
    assert r["containment"] == 1.0
    jac = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.5).collect()
    assert jac == []  # symmetric Jaccard never sees it


def test_containment_tie_orients_to_lower_id(spark):
    from graphdbetl_spark.operators.dedup import ngram_containment_pairs

    text = "a b c d e f"
    df = spark.createDataFrame([(7, text), (3, text)], ["doc_id", "text"])
    r = ngram_containment_pairs(df, "text", "doc_id", n=3, threshold=0.9).collect()
    assert len(r) == 1
    assert (r[0]["contained_id"], r[0]["container_id"]) == (3, 7)
