"""A2: the single-scan rents/returns profile equals the reference's two
separately averaged profiles inner-joined on (station, key)
(basic_features.py:41-68)."""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from bicis_spark.operators.profiles import event_profile_single_scan

D = dt.datetime(2024, 3, 4)  # a Monday

EVENTS = [
    # station A, hour 8: rents in three periods (1, 2, 4 events), returns in two
    *[("A", D + dt.timedelta(hours=8, minutes=m), "rent") for m in (1,)],
    *[("A", D + dt.timedelta(days=1, hours=8, minutes=m), "rent") for m in (1, 2)],
    *[("A", D + dt.timedelta(days=9, hours=8, minutes=m), "rent") for m in (1, 2, 3, 4)],
    ("A", D + dt.timedelta(hours=8, minutes=30), "return"),
    *[("A", D + dt.timedelta(days=2, hours=8, minutes=m), "return") for m in (5, 6, 7)],
    # station A, hour 9: rents in one period, returns only in others
    *[("A", D + dt.timedelta(hours=9, minutes=m), "rent") for m in (0, 1)],
    ("A", D + dt.timedelta(days=1, hours=9), "return"),
    ("A", D + dt.timedelta(days=33, hours=9), "return"),
    # station A, hour 10: rents only (drops out of the inner join)
    ("A", D + dt.timedelta(hours=10), "rent"),
    # station B rents only
    ("B", D + dt.timedelta(hours=8), "rent"),
    ("B", D + dt.timedelta(days=40, hours=8), "rent"),
    # station C: one of each in one period, plus an event of another kind
    ("C", D + dt.timedelta(days=5, hours=23, minutes=59), "rent"),
    ("C", D + dt.timedelta(days=5, hours=23), "return"),
    ("C", D + dt.timedelta(days=5, hours=23), "other"),
    # NULL station / NULL ts rows are dropped
    (None, D + dt.timedelta(hours=8), "rent"),
    (None, D + dt.timedelta(hours=8), "return"),
    ("A", None, "rent"),
    ("C", None, "return"),
]


def _period_and_key(ts: dt.datetime, key: str):
    if key == "hour":
        return ts.replace(minute=0, second=0, microsecond=0), ts.hour
    if key == "weekday":
        return (ts - dt.timedelta(days=ts.weekday())).date(), ts.isoweekday()
    return (ts.year, ts.month), ts.month


def _reference(key: str) -> dict:
    """Each kind's events per (station, period, key), averaged per
    (station, key) over that kind's periods; inner join of the two."""
    profiles = {}
    for kind in ("rent", "return"):
        per_period = defaultdict(int)
        for station, ts, mode in EVENTS:
            if mode == kind and station is not None and ts is not None:
                period, k = _period_and_key(ts, key)
                per_period[(station, k, period)] += 1
        counts = defaultdict(list)
        for (station, k, _), n in per_period.items():
            counts[(station, k)].append(n)
        profiles[kind] = {sk: sum(ns) / len(ns) for sk, ns in counts.items()}
    rents, returns = profiles["rent"], profiles["return"]
    return {sk: (rents[sk], returns[sk]) for sk in rents.keys() & returns.keys()}


@pytest.mark.parametrize("key", ["hour", "weekday", "month"])
def test_single_scan_profile_matches_two_joined_profiles(spark, key):
    events = spark.createDataFrame(
        EVENTS, "station string, ts timestamp, mode string"
    )
    out = event_profile_single_scan(
        events, "station", "ts", key,
        is_rent=F.col("mode") == "rent",
        is_return=F.col("mode") == "return",
    )
    assert out.columns == ["station", key, "n_rents", "n_returns"]
    got = {(r["station"], r[key]): (r["n_rents"], r["n_returns"]) for r in out.collect()}
    assert out.count() == len(got)  # one row per (station, key)
    want = _reference(key)
    assert got == want
    if key == "hour":
        assert got[("A", 8)] == (7 / 3, 2.0)
        assert got[("A", 9)] == (2.0, 1.0)
        assert ("A", 10) not in got and not any(s == "B" for s, _ in got)
