"""Per-station profile series (SURVEY.md §2.4 A2, §2.5 W2, §2.3 J1).

Reference semantics (``bicis/etl/feature_extraction/basic_features.py:30-68``):
for key ∈ {hour, weekday, month}, count events per (station, concrete period,
key value), then average those counts per (station, key value) — the mean is
over *observed* periods only (zero-count periods are absent by construction).
Rents and returns profiles are inner-joined on (station, key).

Spark-first design notes:
- The reference drops to ``.rdd.map`` to derive time keys (defeating
  Catalyst); here the keys are column expressions (functions.timekeys), so
  the whole two-level aggregate runs in whole-stage codegen.
- The two-level groupBy shuffles on (station, period, key) then
  (station, key) — Catalyst executes each as partial+final HashAggregate,
  so the map-side combine bounds shuffle volume by the number of distinct
  groups, not rows. At 100 TB this is the aggregate-pushdown shape the
  reference hand-coded (SURVEY.md §4).
- The first-level output already hash-partitions by a superset of the
  second-level key; AQE coalesces the small second shuffle.
- Rents and returns come from one scan of one event stream, tagged by a
  per-row predicate; the inner join becomes a both-non-null filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bicis_spark.functions.timekeys import VALID_KEYS, period_start, time_key


def event_profile_single_scan(
    events: DataFrame,
    station_col: str,
    ts_col: str,
    key: str,
    is_rent: Column,
    is_return: Column,
) -> DataFrame:
    """Rents and returns profile per (station, key) from ONE scan of
    ``events``: [station, <key>, n_rents, n_returns].

    A row is a rent where ``is_rent`` is true and a return where
    ``is_return`` is true (NULL counts as false); rows with a NULL station
    or timestamp are dropped.

    Contract: the result equals building the rents profile and the returns
    profile separately (events per (station, period, key), averaged over
    the periods where that kind occurs) and inner-joining them on
    (station, key). Level 1 counts both kinds per (station, period, key);
    level 2 averages each kind only over the periods where its count is
    positive (``avg`` skips the NULLs put in for the others), which is the
    separate profile's observed-period mean; the both-non-null filter is
    the inner-join condition. Counts are exact integers, so the averages
    are the same doubles either way.
    """
    if key not in VALID_KEYS:
        raise ValueError(f"key must be one of {VALID_KEYS}")
    ts = F.col(ts_col)
    level1 = (
        events.where(F.col(station_col).isNotNull() & ts.isNotNull())
        .where(is_rent | is_return)
        .groupBy(
            F.col(station_col).alias("station"),
            period_start(ts, key).alias("period"),
            time_key(ts, key).alias(key),
        )
        .agg(
            F.count(F.when(is_rent, F.lit(1))).alias("cr"),
            F.count(F.when(is_return, F.lit(1))).alias("cv"),
        )
    )
    profile = level1.groupBy("station", key).agg(
        F.avg(F.when(F.col("cr") > 0, F.col("cr"))).alias("n_rents"),
        F.avg(F.when(F.col("cv") > 0, F.col("cv"))).alias("n_returns"),
    )
    return profile.where(
        F.col("n_rents").isNotNull() & F.col("n_returns").isNotNull()
    )
