"""Feature building: hourly pivot + circular 24-hour lag vector
(SURVEY.md §2.4 A5, §2.5 W3, §2.3 J4).

Reference semantics:
- Pivot (``hour_feature_builder.py:67-73``): the inner-joined hour profile
  → per-station row of 24 hourly values, missing hours filled with 0
  (forced to all 24 hours, ``:77-82``).
- Circular lag (``hour_feature_builder.py:27-48``): for an event at hour h,
  feature i (i = 0..window_size-1) is the profile value at hour
  ``(h - 1 - i) mod 24`` — indices e.g. for h=3: 2,1,0,23,22,…(``:32-39``);
  emitted as ``n_rents_{i}_hb`` / ``n_returns_{i}_hb`` (``:44-45``).
- Transport (``hour_feature_builder.py:41-45``): the reference does per-row
  redis ``hgetall`` RPCs *from executors*. Replaced wholesale by a broadcast
  hash join against the pivoted profile (bounded: #stations × 24 doubles)
  + pure ``element_at`` column expressions — no network per row, no UDF,
  whole-stage codegen end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hour_profile_pivot(
    profile: DataFrame,
    value_col: str,
    station_col: str = "station",
    hour_col: str = "hour",
    prefix: str | None = None,
) -> DataFrame:
    """A5: profile (station, hour, value) → station × 24 hourly columns,
    absent hours = 0.0 (``fillna(0)`` + forced 24 hours)."""
    prefix = prefix or value_col
    pivoted = (
        profile.groupBy(station_col)
        .pivot(hour_col, list(range(24)))
        .agg(F.first(value_col))
    )
    renamed = pivoted.select(
        F.col(station_col),
        *[F.col(str(h)).alias(f"{prefix}_h{h}") for h in range(24)],
    )
    return renamed.na.fill(0.0)


def profile_maps(profile: DataFrame, station_col: str = "station") -> DataFrame:
    """Profile → per-station hour→value maps (broadcastable dimension).

    One row per station with ``map<int,double>`` for rents and returns —
    the engine's replacement for the redis hash keyed ``"{station}_{hour}"``
    (``hour_feature_builder.py:50-51``).
    """
    return profile.groupBy(station_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("hour"), F.col("n_rents")))
        ).alias("_rents_by_hour"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("hour"), F.col("n_returns")))
        ).alias("_returns_by_hour"),
    )


def circular_lag_features(
    events: DataFrame,
    profile: DataFrame,
    station_col: str,
    ts_col: str,
    id_col: str = "id",
    window_size: int = 24,
) -> DataFrame:
    """W3+J4: per event, the 2×window_size circular-lag feature vector.

    Output: [id, n_rents_0_hb .. n_rents_{w-1}_hb,
             n_returns_0_hb .. n_returns_{w-1}_hb].
    """
    maps = profile_maps(profile)
    # 2×window_size feature expressions built as ONE selectExpr: the same
    # coalesce(element_at(map, (h-1-i) mod 24), 0) tree, but parsed JVM-side
    # in a single py4j call instead of ~400 Column-API round-trips (~1.3s of
    # driver time per plan build — measured)
    exprs = [id_col]
    for metric, map_col in (("n_rents", "_rents_by_hour"), ("n_returns", "_returns_by_hour")):
        for i in range(window_size):
            exprs.append(
                f"coalesce(element_at({map_col}, "
                f"CAST(pmod(hour({ts_col}) - {1 + i}, 24) AS INT)), 0.0D) "
                f"AS {metric}_{i}_hb"
            )
    return (
        events.where(F.col(station_col).isNotNull() & F.col(ts_col).isNotNull())
        .join(F.broadcast(maps), events[station_col] == maps["station"], "left")
        .selectExpr(*exprs)
    )
