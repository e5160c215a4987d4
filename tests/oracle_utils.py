"""Local replica of the driver's oracle comparison (BASELINE.md t2 gate).

Runs a declared Spark query and its DuckDB oracle SQL on the same parquet
tables and compares row count + column names + order-insensitive values.
Exact equality (no float tolerance): the engine's determinism rules
(plans/queries.py docstring) are designed so both sides are bit-identical —
if this passes locally, the driver's value hash matches.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from bicis_spark.schemas import TABLES


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with every declared table under ``sf_dir``
    registered as a view of its parquet: the oracle side of every
    Spark-vs-DuckDB comparison."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64")
    return out.sort_values(by=list(out.columns), ignore_index=True)


def _cell_equal(a, b) -> bool:
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        # exact: determinism rules forbid order-dependent float accumulation
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def _dtype_kind(s: pd.Series) -> str:
    """Coarse type class used for the pre-normalization parity check:
    int-typed vs float-typed matters to the driver's value hash (DuckDB
    HUGEINT fetches as float64 — the sessionization-r1 /
    table_profile_orders-r2 bug class), so catch it locally."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def assert_oracle_match(spark_df, duck_con, sql: str, name: str = "query") -> None:
    raw_actual = spark_df.toPandas()
    raw_expected = duck_con.execute(sql).fetchdf()

    # Type-class parity BEFORE normalization: a bare sum()/count(DISTINCT)
    # in a DuckDB oracle types HUGEINT -> float64, which the driver's
    # type-sensitive hash rejects even when every value is equal. Fail
    # here, with the column named, instead of in CORRECTNESS_r{N}.json.
    for col in sorted(set(raw_actual.columns) & set(raw_expected.columns)):
        ak, ek = _dtype_kind(raw_actual[col]), _dtype_kind(raw_expected[col])
        assert ak == ek, (
            f"{name}.{col}: dtype class mismatch: spark={ak} ({raw_actual[col].dtype})"
            f" oracle={ek} ({raw_expected[col].dtype}) — if the oracle side is"
            " float for an integer aggregate, CAST(... AS BIGINT) in the SQL"
        )

    actual = _normalize(raw_actual)
    expected = _normalize(raw_expected)

    assert list(actual.columns) == list(expected.columns), (
        f"{name}: column mismatch: spark={list(actual.columns)} "
        f"oracle={list(expected.columns)}"
    )
    assert len(actual) == len(expected), (
        f"{name}: row count mismatch: spark={len(actual)} oracle={len(expected)}"
    )
    for col in actual.columns:
        av, ev = actual[col].tolist(), expected[col].tolist()
        bad = [
            (i, a, e) for i, (a, e) in enumerate(zip(av, ev)) if not _cell_equal(a, e)
        ]
        assert not bad, f"{name}.{col}: {len(bad)} mismatched values, first: {bad[:5]}"
