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
  hash join against per-station 24-slot hour arrays (bounded: #stations ×
  2 × 24 doubles) + array-index column expressions — no network per row,
  no UDF, whole-stage codegen end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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


def profile_hour_arrays(profile: DataFrame, station_col: str = "station") -> DataFrame:
    """Profile → one row per station with 24-slot ``array<double>`` hour
    vectors for rents and returns (slot h = hour h, absent or NULL = 0.0) —
    the broadcastable dimension that replaces the redis hash keyed
    ``"{station}_{hour}"`` (``hour_feature_builder.py:50-51``).

    The per-station hour map is densified here, once per station, so each
    event reads its lags by array index instead of by map lookup."""
    maps = profile.groupBy(station_col).agg(
        *[
            F.map_from_entries(F.collect_list(F.struct("hour", value))).alias(out)
            for value, out in (("n_rents", "_rents_by_hour"), ("n_returns", "_returns_by_hour"))
        ]
    )
    return maps.selectExpr(
        station_col,
        *[
            f"transform(sequence(0, 23), h -> coalesce(element_at({m}, h), 0.0D)) AS {m}"
            for m in ("_rents_by_hour", "_returns_by_hour")
        ],
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
             n_returns_0_hb .. n_returns_{w-1}_hb], all non-NULL doubles;
    an event at a station absent from the profile gets all zeros. Events
    with a NULL station or timestamp are dropped.
    """
    arrays = profile_hour_arrays(profile)
    # The 2×window_size expressions go through ONE selectExpr: parsed
    # JVM-side in a single py4j call rather than one Column call each.
    exprs = [id_col]
    for metric, arr_col in (("n_rents", "_rents_by_hour"), ("n_returns", "_returns_by_hour")):
        for i in range(window_size):
            exprs.append(
                f"coalesce({arr_col}[pmod(hour({ts_col}) - {1 + i}, 24)], 0.0D) "
                f"AS {metric}_{i}_hb"
            )
    return (
        events.where(F.col(station_col).isNotNull() & F.col(ts_col).isNotNull())
        .join(F.broadcast(arrays), events[station_col] == arrays["station"], "left")
        .selectExpr(*exprs)
    )
