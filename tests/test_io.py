"""IO parity: CSV sink/scan round-trip (S3/S7), parquet partition pruning
layout, nanos-timestamp handling."""

from __future__ import annotations

from pyspark.sql import functions as F

from bicis_spark.schemas import EVENTS, TABLES
from bicis_spark.sources.io import read_csv, read_table, write_csv, write_parquet


def test_csv_round_trip(spark, sf_dir, tmp_path):
    """S7 headered CSV sink → S3 schema-explicit scan preserves values
    (timestamps via ISO strings — the reference's unify.py:43-45 format)."""
    events = read_table(spark, sf_dir, "events").limit(100)
    out = str(tmp_path / "events_csv")
    formatted = events.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    write_csv(formatted, out)
    back = read_csv(
        spark,
        out,
        schema="event_id long, ts string, user_id long, event_type string, value double",
        sep=",",
    ).withColumn("ts", F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    orig = {r["event_id"]: r for r in events.collect()}
    rt = {r["event_id"]: r for r in back.collect()}
    assert set(orig) == set(rt)
    for k in orig:
        assert rt[k]["ts"] == orig[k]["ts"]
        assert rt[k]["value"] == orig[k]["value"]
        assert rt[k]["event_type"] == orig[k]["event_type"]


def test_partitioned_parquet_prunes(spark, sf_dir, tmp_path):
    """partition_by layout enables partition pruning: filtering on the
    partition column scans only matching directories."""
    events = read_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_type")
    write_parquet(events, out, partition_by=["event_type"])
    clicks = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = clicks._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert clicks.count() == events.where(F.col("event_type") == "click").count()
    # pruned scan reads one partition directory
    assert "PartitionFilters: [isnotnull(event_type" in plan or "event_type=click" in plan


def test_all_tables_readable_with_declared_schema(spark, sf_dir):
    for name, schema in TABLES.items():
        df = read_table(spark, sf_dir, name)
        assert df.schema == schema or [f.name for f in df.schema.fields] == [
            f.name for f in schema.fields
        ]
        assert df.count() > 0


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge join with zero Exchange operators — the write-time shuffle
    is the only one ever paid."""
    from bicis_spark.sources.io import write_bucketed_table

    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    write_bucketed_table(left, "bkt_left", ["k"], 4, sort_cols=["k"],
                         path=str(tmp_path / "l"))
    write_bucketed_table(right, "bkt_right", ["k"], 4, sort_cols=["k"],
                         path=str(tmp_path / "r"))
    try:
        with_bc_off = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
        old = {k: spark.conf.get(k) for k in with_bc_off}
        for k, v in with_bc_off.items():
            spark.conf.set(k, v)
        try:
            joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 1000
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Reading one partition of a partitionBy-written table must show a
    PartitionFilter and scan only that partition's files."""
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).alias("bucket")
    )
    path = str(tmp_path / "parts")
    write_parquet(df, path, partition_by=["bucket"])
    got = spark.read.parquet(path).where(F.col("bucket") == 2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the bucket predicate must land in PartitionFilters (directory-level
    # pruning), NOT as a post-scan Filter over the data
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "= 2" in m.group(1), plan
    assert got.count() == 25


def test_jsonl_round_trip(spark, tmp_path):
    """JSON-lines sink -> schema-explicit JSONL scan round-trips values
    (timestamps included) without inference."""
    from bicis_spark.sources.io import read_jsonl, write_json

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", -1.0)], "id long, s string, v double"
    )
    path = str(tmp_path / "jl")
    write_json(df, path)
    back = read_jsonl(spark, path, df.schema)
    assert sorted((r["id"], r["s"], r["v"]) for r in back.collect()) == [
        (1, "a", 2.5),
        (2, "b", -1.0),
    ]
    assert back.schema == df.schema


def test_sorted_parquet_layout_disjoint_file_ranges(spark, sf_dir, tmp_path):
    import glob

    from bicis_spark.sources.io import read_table, write_sorted_parquet

    path = str(tmp_path / "orders_sorted")
    orders = read_table(spark, sf_dir, "orders")
    write_sorted_parquet(orders, path, ["o_orderdate"], n_partitions=4)

    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) > 1
    # per-file min/max ranges must be pairwise disjoint (the pruning
    # property), and each file internally sorted
    import pyarrow.parquet as pq

    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["o_orderdate"])
        vals = t.column("o_orderdate").to_pylist()
        assert vals == sorted(vals)
        ranges.append((min(vals), max(vals)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo
    # nothing lost
    total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    assert total == orders.count()


def test_partitioned_sink_read_prunes_partitions(spark, tmp_path):
    """The day-partitioned sink layout must let a day filter resolve via
    PARTITION pruning (directory-level skip), not a per-row data filter:
    the physical scan's PartitionFilters carry the event_date predicate."""
    import datetime as dt

    from pyspark.sql import functions as F

    from bicis_spark.sources.io import overwrite_partitions_dynamic

    rows = [
        (i, dt.date(2024, 3, 1 + i % 10), float(i)) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "id long, event_date date, v double")
    path = str(tmp_path / "part_sink")
    overwrite_partitions_dynamic(df, path, ["event_date"])

    back = spark.read.parquet(path).where(
        F.col("event_date") < dt.date(2024, 3, 4)
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], "day filter did not reach PartitionFilters"
    assert back.count() == sum(1 for _, d, _ in rows if d < dt.date(2024, 3, 4))
