"""Dataset maintenance tests: Z-order per-file min/max tightness (the
property data skipping depends on), retention pruning and dynamic
partition overwrite."""

import glob

import pyarrow.parquet as pq

from graphdbetl_spark.etl.maintenance import write_zordered


def _file_ranges(path, col):
    out = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.read_metadata(f)
        los, his = [], []
        for rg in range(md.num_row_groups):
            cols = {md.row_group(rg).column(i).path_in_schema: md.row_group(rg).column(i)
                    for i in range(md.row_group(rg).num_columns)}
            st = cols[col].statistics
            los.append(st.min)
            his.append(st.max)
        out.append((min(los), max(his)))
    return out


def test_zorder_tightens_both_columns(spark, tmp_path):
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    plain = str(tmp_path / "plain")
    zord = str(tmp_path / "zord")
    orders.repartition(8).write.parquet(plain)  # random layout
    write_zordered(orders, zord, "o_custkey", "o_totalprice", n_files=8)

    def avg_width(path, col):
        ranges = _file_ranges(path, col)
        return sum(hi - lo for lo, hi in ranges) / len(ranges)

    # a random layout's every file spans ~the full domain of both
    # columns; the z-ordered layout must tighten BOTH substantially
    for col in ("o_custkey", "o_totalprice"):
        assert avg_width(zord, col) < 0.65 * avg_width(plain, col), col

    assert spark.read.parquet(zord).count() == orders.count()


def test_prune_partitions_retention(spark, tmp_path):
    from graphdbetl_spark.etl.maintenance import prune_partitions

    path = str(tmp_path / "events_by_day")
    df = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}") for i in range(30)], "id long, day string"
    )
    df.write.partitionBy("day").parquet(path)

    pruned = prune_partitions(spark, path, "day", keep_values=["2024-01-02", "2024-01-03"])
    assert pruned == ["2024-01-01"]
    left = spark.read.parquet(path)
    # partition values are type-inferred (DateType) on read — compare as str
    assert set(str(r.day) for r in left.select("day").distinct().collect()) == {
        "2024-01-02", "2024-01-03",
    }
    assert left.count() == 20  # surviving partitions untouched
    # wrong column name prunes nothing
    assert prune_partitions(spark, path, "hour", keep_values=[]) == []


def test_dynamic_partition_overwrite_is_idempotent_reprocess(spark, tmp_path):
    """Reprocessing one day of a partitioned dataset must not clobber
    the others: partitionOverwriteMode=dynamic replaces only the
    partitions present in the incoming batch — the idempotent-backfill
    mechanism for date-partitioned outputs (static mode would truncate
    the whole table first)."""
    path = str(tmp_path / "daily")
    spark.createDataFrame(
        [(1, "d1"), (2, "d1"), (3, "d2")], "id long, day string"
    ).write.partitionBy("day").parquet(path)

    with_conf = spark.conf
    old = with_conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    with_conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # backfill d1 with corrected rows; d2 untouched
        spark.createDataFrame([(10, "d1")], "id long, day string").write.mode(
            "overwrite"
        ).partitionBy("day").parquet(path)
    finally:
        with_conf.set("spark.sql.sources.partitionOverwriteMode", old)

    got = {(r.id, r.day) for r in spark.read.parquet(path).collect()}
    assert got == {(10, "d1"), (3, "d2")}
