"""L5 fails report edges: counts are one row of three non-NULL bigints
whatever the sizes of the two sides (build_dataset.py:87-110)."""

from __future__ import annotations

from pyspark.sql.types import LongType, StructField, StructType

from bicis_spark.operators.dataset import fails_report

COUNTS_SCHEMA = StructType(
    [
        StructField(name, LongType(), nullable=False)
        for name in ("input_count", "output_count", "number_of_errors")
    ]
)


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def test_fails_report_counts_and_error_ids(spark):
    counts, error_ids = fails_report(_ids(spark, [4, 1, 3, 2]), _ids(spark, [2, 4]))
    assert counts.schema == COUNTS_SCHEMA
    assert [tuple(r) for r in counts.collect()] == [(4, 2, 2)]
    assert [r["id"] for r in error_ids.collect()] == [1, 3]


def test_fails_report_empty_output(spark):
    counts, error_ids = fails_report(_ids(spark, [1, 2, 3]), _ids(spark, []))
    assert counts.schema == COUNTS_SCHEMA
    assert [tuple(r) for r in counts.collect()] == [(3, 0, 3)]
    assert [r["id"] for r in error_ids.collect()] == [1, 2, 3]


def test_fails_report_both_empty_is_one_zero_row(spark):
    counts, error_ids = fails_report(_ids(spark, []), _ids(spark, []))
    assert counts.schema == COUNTS_SCHEMA
    assert [tuple(r) for r in counts.collect()] == [(0, 0, 0)]
    assert error_ids.collect() == []
