"""Tests for the skew-mitigation and partition-sizing helpers."""

import pyspark.sql.functions as F
import pytest

from graphdbetl_spark.operators.skew import replicated_skew_join, salted_count_sum


def test_salted_count_sum_matches_plain_aggregate(spark):
    # hot key: 0 appears 1000x, others once
    rows = [(0, float(i)) for i in range(1000)] + [(k, 1.0) for k in range(1, 20)]
    df = spark.createDataFrame(rows, "k int, v double")
    got = {r.k: (r.n_rows, r.sum_v) for r in salted_count_sum(df, ["k"], ["v"]).collect()}
    exp = {
        r.k: (r.n, r.s)
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()
    }
    assert got == exp


def test_replicated_skew_join_matches_plain_join(spark):
    fact = spark.createDataFrame([(0, i) for i in range(500)] + [(1, 1)], "k int, payload int")
    dim = spark.createDataFrame([(0, "hot"), (1, "cold"), (2, "unused")], "k int, label string")
    got = sorted(
        (r.k, r.payload, r.label) for r in replicated_skew_join(fact, dim, "k").collect()
    )
    exp = sorted((r.k, r.payload, r.label) for r in fact.join(dim, "k").collect())
    assert got == exp


# --- r12: direct pins for the r11 size-derived helpers (r11 ADVICE) ---


def test_iterate_partitions_bounds(spark):
    from graphdbetl_spark.operators.skew import iterate_partitions

    df = spark.range(1000).toDF("x")
    # tiny frame, huge bytes-per-task -> floor of 1
    assert iterate_partitions(df, 1 << 40) == 1
    # bytes_per_task=1 -> ceiling of defaultParallelism
    assert iterate_partitions(df, 1) == spark.sparkContext.defaultParallelism


def test_checkpoint_if_scaled_threshold_both_sides(spark):
    from graphdbetl_spark.operators.skew import checkpoint_if_scaled

    df = spark.range(100).toDF("x")
    # below threshold: the SAME DataFrame object comes back untouched
    assert checkpoint_if_scaled(df, size_of=df, threshold_bytes=1 << 40) is df
    # above threshold: a checkpointed frame (lineage cut to an RDD scan)
    cp = checkpoint_if_scaled(df, size_of=df, threshold_bytes=0)
    assert cp is not df
    assert "LogicalRDD" in cp._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(r.x for r in cp.collect()) == list(range(100))


def test_checkpoint_if_scaled_fallback_keeps_scale_behavior(spark):
    # When plan-stats access raises (non-classic session / private-API
    # drift), the helper must fall back to CHECKPOINTING (the scale
    # posture), not to skipping.
    from graphdbetl_spark.operators.skew import checkpoint_if_scaled

    class Boom:
        @property
        def _jdf(self):
            raise RuntimeError("no JVM plan access")

    df = spark.range(10).toDF("x")
    cp = checkpoint_if_scaled(df, size_of=Boom(), threshold_bytes=1 << 40)
    assert cp is not df
    assert "LogicalRDD" in cp._jdf.queryExecution().optimizedPlan().toString()


def test_fan_both_budgets_and_fallbacks(spark):
    from graphdbetl_spark.operators.skew import fan, iterate_partitions

    cores = spark.sparkContext.defaultParallelism
    assert cores >= 2
    one = spark.range(1000).toDF("k").repartition(1)
    # None: the target is the core count, read from no plan stats
    up = fan(one, "k")
    assert up is not one and up.rdd.getNumPartitions() == cores
    # an integer budget: the byte-derived target (here the clamp)
    assert iterate_partitions(one, 1) == cores
    assert fan(one, "k", bytes_per_task=1).rdd.getNumPartitions() == cores
    # target <= 1 -> plan untouched (same object back)
    assert fan(one, "k", bytes_per_task=1 << 40) is one
    # many splits already: only the up direction is taken, splits kept
    wide = spark.range(1000).toDF("k").repartition(cores)
    assert fan(wide, "k") is wide
    assert fan(wide, "k", bytes_per_task=1) is wide

    class NoRdd:
        # a frame whose partitions cannot be read (non-classic session)
        sparkSession = spark

        @property
        def rdd(self):
            raise RuntimeError("no RDD access")

    blind = NoRdd()
    assert fan(blind, "k") is blind


def test_arrow_matrix_rejects_ragged_and_null():
    import pyarrow as pa
    import pytest

    from graphdbetl_spark.functions.vectors import arrow_matrix

    def rb(vecs):
        return pa.RecordBatch.from_arrays(
            [pa.array([1, 2], type=pa.int64()),
             pa.array(vecs, type=pa.list_(pa.float64()))],
            names=["vec_id", "__v"],
        )

    v = arrow_matrix(rb([[1.0, 2.0], [3.0, 4.0]]), "__v")
    assert v.shape == (2, 2) and v.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    # ragged widths whose total still divides num_rows: the silent-
    # misalignment case — must raise, not skew
    with pytest.raises(ValueError, match="ragged"):
        arrow_matrix(rb([[1.0, 2.0, 3.0], [4.0]]), "__v")
    # uniform within the batch but narrower than the kernel's width:
    # a corpus ragged ACROSS batches
    with pytest.raises(ValueError, match="ragged .* expected 2"):
        arrow_matrix(rb([[1.0], [4.0]]), "__v", width=2)
    with pytest.raises(ValueError, match="null rows"):
        arrow_matrix(rb([[1.0, 2.0], None]), "__v")
    with pytest.raises(ValueError, match="null elements"):
        arrow_matrix(rb([[1.0, None], [2.0, 3.0]]), "__v")


def test_pinned_releases_on_exception(spark):
    from graphdbetl_spark.operators.skew import pinned

    df = spark.range(10)
    with pytest.raises(RuntimeError):
        with pinned(df):
            assert df.is_cached
            raise RuntimeError("body failed")
    assert not df.is_cached


@pytest.mark.parametrize(
    "name",
    [
        # the curation_batch benchmark's four ops
        "sim_cosine_topk",
        "dedup_image_hamming",
        "select_kcenter_coreset",
        "dedup_minhash",
        "dedup_minhash_md5",
        "dedup_minhash_incremental",
        "dedup_keep_list",
        "graph_bfs_depth",
        "graph_sssp_bounded",
        "graph_kcore",
        "graph_triangle_count",
        "maintenance_zorder_key",
        "train_quality_classifier",
    ],
)
def test_entry_leaves_the_cache_manager_empty(spark, name):
    """Built and written, an entry leaves nothing in the CacheManager:
    its returned frame reads checkpoints, and what it pinned for its own
    actions is released (skew.pinned's rule)."""
    from graphdbetl_spark.plans.registry import all_queries

    spark.catalog.clearCache()
    df = all_queries()[name](spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
