"""``bicis_spark.measure``: the layered record of a timed row and the job
group it must not leave behind."""

from __future__ import annotations

import pytest

from bicis_spark.measure import measure
from bicis_spark.plans import queries as registry

ALL = registry.queries()

#: pricing_summary builds lazily; bfs_part_supplier_hops checkpoints every
#: round while it builds, so its builder runs Spark jobs itself.
ROWS = ("pricing_summary", "bfs_part_supplier_hops")


def _job_group(spark):
    return spark.sparkContext.getLocalProperty("spark.jobGroup.id")


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    recs, totals = measure(spark, {n: ALL[n] for n in ROWS}, sf_dir, passes=1)
    assert len(totals) == 1
    return recs


def test_record_splits_wall_time(records):
    for name in ROWS:
        r = records[name]
        assert set(r) == {"sec", "build_s", "exec_s", "build_jobs", "jobs",
                          "stages", "task_cpu_s", "gc_s", "shuffle_bytes",
                          "spill_bytes"}
        assert r["build_s"] + r["exec_s"] == pytest.approx(r["sec"], abs=1e-9)
        assert 0 <= r["build_jobs"] <= r["jobs"] and r["stages"] > 0


def test_eager_builder_has_build_jobs(records):
    assert records["bfs_part_supplier_hops"]["build_jobs"] > 0
    assert records["pricing_summary"]["build_jobs"] == 0


def test_jobs_match_a_plain_run(records, spark, sf_dir, new_job_ids):
    with new_job_ids() as ids:
        ALL["pricing_summary"](spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
    assert records["pricing_summary"]["jobs"] == len(ids) > 0


def test_no_job_group_left_set(records, spark, sf_dir):
    assert _job_group(spark) is None

    def broken(spark, sf_dir):
        ALL["pricing_summary"](spark, sf_dir).count()
        raise RuntimeError("builder failed")

    with pytest.raises(RuntimeError, match="builder failed"):
        measure(spark, {"broken": broken}, sf_dir, passes=1)
    assert _job_group(spark) is None
