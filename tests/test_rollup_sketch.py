"""Tests: incremental rollup maintenance (hypertable continuous
aggregate) and the KMV distinct-count sketch."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from graphdbetl_spark.operators.sketch import kmv_distinct_md5_grouped
from graphdbetl_spark.sources.catalog import load_table
from graphdbetl_spark.streaming.rollup import (
    bucket_partials,
    merge_rollup,
    read_rollup,
    start_rollup_maintenance,
)
from tests.conftest import SF_DIR


class TestRollup:
    def test_incremental_equals_batch_recompute(self, spark, tmp_path):
        events = load_table(spark, SF_DIR, "events")
        first = events.filter(F.dayofmonth("ts") <= 15)
        second = events.filter(F.dayofmonth("ts") > 15)

        # incremental: merge two deltas
        r = merge_rollup(None, bucket_partials(first))
        r = merge_rollup(r, bucket_partials(second))
        inc = {
            (x.bucket, x.event_type): (x.n_events, round(x.sum_value, 6))
            for x in r.collect()
        }
        # batch recompute over everything
        full = {
            (x.bucket, x.event_type): (x.n_events, round(x.sum_value, 6))
            for x in bucket_partials(events).collect()
        }
        assert inc.keys() == full.keys()
        for key in full:
            assert inc[key][0] == full[key][0]
            assert inc[key][1] == pytest.approx(full[key][1], abs=1e-6)

    def test_streaming_maintenance(self, spark, tmp_path):
        src = str(tmp_path / "src")
        rollup = str(tmp_path / "rollup")
        ckpt = str(tmp_path / "ck")
        os.makedirs(src)
        events = load_table(spark, SF_DIR, "events").limit(200)

        def drop(df, name):
            df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
            for f in os.listdir(str(tmp_path / name)):
                if f.endswith(".parquet"):
                    shutil.copy(os.path.join(str(tmp_path / name), f), os.path.join(src, f"{name}.parquet"))

        drop(events.filter(F.col("event_id") < 100), "b1")
        schema = spark.read.parquet(src).schema
        q = start_rollup_maintenance(
            spark.readStream.schema(schema).parquet(src), rollup, ckpt
        )
        q.awaitTermination(120)
        drop(events.filter(F.col("event_id") >= 100), "b2")
        q2 = start_rollup_maintenance(
            spark.readStream.schema(schema).parquet(src), rollup, ckpt
        )
        q2.awaitTermination(120)

        got = {
            (r.bucket, r.event_type): r.n_events
            for r in read_rollup(spark, rollup).collect()
        }
        exp = {
            (r.bucket, r.event_type): r.n_events
            for r in bucket_partials(events).collect()
        }
        assert got == exp


class TestKMV:
    def test_estimate_within_error_bound(self, spark):
        orders = load_table(spark, SF_DIR, "orders")
        sk = kmv_distinct_md5_grouped(orders, ["o_orderstatus"], "o_custkey", k=64)
        est = {r.o_orderstatus: r.est_distinct for r in sk.collect()}
        exact = {
            r.o_orderstatus: r.n
            for r in orders.groupBy("o_orderstatus")
            .agg(F.countDistinct("o_custkey").alias("n"))
            .collect()
        }
        for status, n in exact.items():
            assert est[status] == pytest.approx(n, rel=0.15), (status, est[status], n)

    def test_small_groups_exact(self, spark):
        df = spark.createDataFrame([(1, i % 7) for i in range(100)], "g int, v int")
        est = kmv_distinct_md5_grouped(df, ["g"], "v", k=64).first()
        assert (est.k_used, est.est_distinct) == (7, 7.0)


class TestKMVMd5:
    def test_exact_below_k(self, spark):
        from graphdbetl_spark.operators.sketch import kmv_distinct_md5

        df = spark.createDataFrame([(f"v{i}",) for i in range(10)] * 3, "tok string")
        row = kmv_distinct_md5(df, "tok", k=64).collect()[0]
        assert row["k_used"] == 10 and row["est_distinct"] == 10.0

    def test_estimate_within_bound_above_k(self, spark):
        from graphdbetl_spark.operators.sketch import kmv_distinct_md5

        n = 2000
        df = spark.createDataFrame([(f"val{i}",) for i in range(n)], "tok string")
        row = kmv_distinct_md5(df, "tok", k=64).collect()[0]
        assert row["k_used"] == 64
        assert abs(row["est_distinct"] - n) / n < 0.5  # ~1/sqrt(62) ≈ 13% typical


def test_portable_subword_tokens(spark):
    import pyspark.sql.functions as F
    from graphdbetl_spark.functions.text import portable_subword_token_count

    df = spark.createDataFrame(
        [(1, "don't stop, it's 2024!"), (2, "的是了"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", portable_subword_token_count(F.col("text")).alias("n")).collect()}
    # don | ' | t | stop | , | it | ' | s | 2024 | !
    assert out[1] == 10
    assert out[2] == 3  # one per CJK char
    assert out[3] == 0


class TestCountMin:
    def test_exact_when_no_collisions_and_overestimates(self, spark):
        from graphdbetl_spark.operators.sketch import countmin_topk_md5

        rows = [("apple",)] * 7 + [("pear",)] * 3 + [("plum",)] * 5
        df = spark.createDataFrame(rows, "tok string")
        out = {r["token"]: r for r in countmin_topk_md5(df, "tok", k=10).collect()}
        assert set(out) == {"apple", "pear", "plum"}
        # 3 values in a 4x1024 grid: no collisions -> estimates exact
        assert all(r["est"] == r["exact"] for r in out.values())
        assert all(r["overestimates"] for r in out.values())
        assert out["apple"]["exact"] == 7

    def test_collisions_only_inflate(self, spark):
        from graphdbetl_spark.operators.sketch import countmin_topk_md5

        # tiny grid (w=2) forces collisions everywhere: estimates must
        # still never undercount (Count-Min's one-sided error)
        rows = [(f"tok{i}",) for i in range(50) for _ in range(i % 5 + 1)]
        df = spark.createDataFrame(rows, "tok string")
        out = countmin_topk_md5(df, "tok", d=4, w=2, k=50).collect()
        assert len(out) == 50
        assert all(r["est"] >= r["exact"] for r in out)

    def test_merge_is_counter_addition(self, spark):
        import pyspark.sql.functions as F

        from graphdbetl_spark.operators.sketch import countmin_build_md5

        a = spark.createDataFrame([("x",)] * 4 + [("y",)] * 2, "tok string")
        b = spark.createDataFrame([("x",)] * 3 + [("z",)] * 5, "tok string")
        merged = (
            countmin_build_md5(a, "tok")
            .union(countmin_build_md5(b, "tok"))
            .groupBy("j", "pos")
            .agg(F.sum("cnt").alias("cnt"))
        )
        direct = countmin_build_md5(a.union(b), "tok")
        got = {(r["j"], r["pos"]): r["cnt"] for r in merged.collect()}
        want = {(r["j"], r["pos"]): r["cnt"] for r in direct.collect()}
        assert got == want


def test_countmin_streaming_maintenance(spark, tmp_path):
    """The sketch as a continuous aggregate: each micro-batch's grid
    merges into the stored one by counter addition (foreachBatch), and
    the maintained sketch equals a batch rebuild over everything seen."""
    import pyspark.sql.functions as F

    from graphdbetl_spark.operators.sketch import countmin_build_md5

    src = str(tmp_path / "cm_src")
    store = str(tmp_path / "cm_sketch")
    ckpt = str(tmp_path / "cm_ck")
    os.makedirs(src)

    def drop(rows, name):
        df = spark.createDataFrame(rows, "tok string")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        for f in os.listdir(str(tmp_path / name)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(str(tmp_path / name), f),
                            os.path.join(src, f"{name}.parquet"))

    def process(batch, batch_id):
        delta = countmin_build_md5(batch, "tok")
        if os.path.exists(os.path.join(store, "_SUCCESS")):
            merged = (
                spark.read.parquet(store).unionByName(delta)
                .groupBy("j", "pos").agg(F.sum("cnt").alias("cnt"))
            )
        else:
            merged = delta
        merged.cache().count()
        merged.write.mode("overwrite").parquet(store)
        merged.unpersist()

    b1 = [("x",)] * 5 + [("y",)] * 2
    b2 = [("x",)] * 3 + [("z",)] * 4
    drop(b1, "c1")
    q = (spark.readStream.schema("tok string").parquet(src)
         .writeStream.foreachBatch(process)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination(120)
    drop(b2, "c2")
    q2 = (spark.readStream.schema("tok string").parquet(src)
          .writeStream.foreachBatch(process)
          .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q2.awaitTermination(120)

    got = {(r.j, r.pos): r.cnt for r in spark.read.parquet(store).collect()}
    want = {
        (r.j, r.pos): r.cnt
        for r in countmin_build_md5(
            spark.createDataFrame(b1 + b2, "tok string"), "tok"
        ).collect()
    }
    assert got == want
