import pytest

from perfbench.statusstore import StatusReader, _union_ms, catalyst_phases_ms, parse_duration_s


def _run(reader, group, action):
    mark = reader.begin(group)
    try:
        action()
    finally:
        reader.end()
    return reader.read(mark)


def test_agg_hash_reports_jobs_tasks_and_cpu(spark, catalog):
    from graphdbetl_spark.plans.registry import all_queries

    reader = StatusReader(spark)
    fn = all_queries()["agg_hash"]
    got = _run(reader, "t-agg", lambda: fn(spark, catalog).write.format("noop").mode("overwrite").save())
    assert got["spark.jobs"] > 0
    assert got["spark.stages"] > 0
    assert got["spark.tasks"] > 0
    assert got["exec.cpu_s"] > 0
    assert got["exec.input_rows"] > 0
    assert got["spark.job_wall_s"] > 0
    assert got["operators.python_nodes"] == 0


def test_ops_are_scoped_by_job_group(spark, catalog):
    reader = StatusReader(spark)
    df = spark.read.parquet(f"{catalog}/orders.parquet")
    first = _run(reader, "t-one", lambda: df.count())
    both = _run(reader, "t-two", lambda: (df.count(), df.count()))
    assert both["spark.jobs"] == 2 * first["spark.jobs"]


def test_python_nodes_and_eval_time(spark):
    def kernel(batches):
        yield from batches

    reader = StatusReader(spark)
    df = spark.range(1000).mapInPandas(kernel, "id long")
    got = _run(reader, "t-pandas", lambda: df.write.format("noop").mode("overwrite").save())
    assert got["operators.python_nodes"] == 1


def test_cache_persisted_and_leaked(spark):
    reader = StatusReader(spark)
    df = spark.range(5000).selectExpr("id", "id * 2 AS y").cache()
    got = _run(reader, "t-cache", lambda: df.count())
    assert got["cache.persisted_rdds"] >= 1
    assert got["cache.leaked_rdds"] >= 1
    assert got["cache.bytes"] > 0
    spark.catalog.clearCache()
    clean = _run(reader, "t-clean", lambda: spark.range(10).count())
    assert clean["cache.leaked_rdds"] == 0


def test_catalyst_phases_after_forcing_the_plan(spark):
    df = spark.range(10)
    phases = catalyst_phases_ms(df.groupBy((df.id % 2).alias("k")).count())
    assert set(phases) == {"analysis", "optimization", "planning"}


@pytest.mark.parametrize("text,seconds", [
    ("569 ms", 0.569),
    ("1.1 s", 1.1),
    ("total (min, med, max (stageId: taskId))\n3.1 s (0 ms, 1.0 s, 1.2 s (stage 5.0: task 7))", 3.1),
    ("2.0 m", 120.0),
])
def test_parse_duration(text, seconds):
    assert parse_duration_s(text) == pytest.approx(seconds)


def test_union_of_job_intervals():
    assert _union_ms([]) == 0
    assert _union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert _union_ms([(0, 10), (2, 3)]) == 10
