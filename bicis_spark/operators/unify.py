"""Ingest/unify: heterogeneous source dialects → canonical trips table.

Reference semantics (``bicis/lib/parse_raw_data.py``, ``bicis/etl/raw_data/
unify.py``): four per-year CSV header dialects are renamed to canonical
columns via a year-keyed mapping (``parse_raw_data.py:43-52``); unmapped
columns are dropped (STRICT_MAPPING, ``:88``); timestamps parse through a
multi-format try-chain (``:67-76``); duration is int-minutes or an
``"0H 32MIN 15SEG"`` string (``:55-64``); ``return_date`` is derived as
``rent_date + duration`` when absent (``:111-112``); only rows with both
dates survive (``unify.py:43-49``); a dense integer ``id`` is assigned
(``unify.py:47-49``).

Spark-first: the whole flow is declarative — schema-on-read with explicit
all-string schemas, ``select(alias)`` projections per dialect,
``unionByName`` across dialects, and a two-phase deterministic dense-id
assignment that scales (per-partition-group row_number + broadcast prefix
offsets) instead of the reference's single-process counter.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bicis_spark.functions.parsing import (
    parse_duration_seconds,
    parse_timestamp_multi,
)

# ---------------------------------------------------------------------------
# Dialect registry (declarative replacement for row_mappings,
# parse_raw_data.py:13-52)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Dialect:
    """A source header dialect: raw column name → canonical name."""

    name: str
    mapping: dict[str, str] = field(default_factory=dict)

    def canonical_columns(self) -> set[str]:
        return set(self.mapping.values())


FIELDS_V1 = Dialect(
    "v1",
    {
        "origenfecha": "rent_date",
        "nombreorigen": "rent_station",
        "destinofecha": "return_date",
        "nombredestino": "return_station",
        "tiempouso": "duration",
    },
)
FIELDS_V2 = Dialect(
    "v2",
    {
        "origenfecha": "rent_date",
        "origennombre": "rent_station",
        "destinofecha": "return_date",
        "destinonombre": "return_station",
        "tiempouso": "duration",
    },
)
FIELDS_V3 = Dialect(
    "v3",
    {
        "origen_fecha": "rent_date",
        "destino_fecha": "return_date",
        "nombre_origen": "rent_station",
        "destino_estacion": "return_station",
    },
)
FIELDS_V4 = Dialect(
    "v4",
    {
        "fecha_hora_retiro": "rent_date",
        "tiempo_uso": "duration",
        "nombre_origen": "rent_station",
        "nombre_destino": "return_station",
    },
)

# year → dialect (parse_raw_data.py:43-52); unknown years are skipped.
YEAR_DIALECTS: dict[int, Dialect] = {
    2010: FIELDS_V2,
    2011: FIELDS_V1,
    2012: FIELDS_V2,
    2013: FIELDS_V3,
    2014: FIELDS_V3,
    2015: FIELDS_V4,
    2016: FIELDS_V4,
    2017: FIELDS_V4,
}

CANONICAL_COLUMNS = ("rent_date", "rent_station", "return_date", "return_station")


def normalize_dialect(raw: DataFrame, dialect: Dialect) -> DataFrame:
    """One dialect's raw string DataFrame → canonical typed columns.

    Equivalent of format_reader (parse_raw_data.py:79-117): rename+prune
    (STRICT_MAPPING), multi-format timestamp parse, duration parse,
    return_date derivation, validity filter — all as column expressions.
    """
    lower_cols = {c.lower().strip(): c for c in raw.columns}
    selected = [
        F.trim(F.col(lower_cols[src])).alias(dst)
        for src, dst in dialect.mapping.items()
        if src in lower_cols
    ]
    df = raw.select(*selected)

    df = df.withColumn("rent_date", parse_timestamp_multi(F.col("rent_date")))
    if "return_date" in df.columns:
        df = df.withColumn("return_date", parse_timestamp_multi(F.col("return_date")))
    if "duration" in df.columns:
        df = df.withColumn("duration_s", parse_duration_seconds(F.col("duration")))
        if "return_date" not in df.columns:
            # only positive durations derive a return_date: the reference's
            # falsy timedelta(0) skips derivation and integer parsing
            # (isdigit) rejects negatives (parse_raw_data.py:108-115), so
            # zero/negative durations leave return_date null and the row is
            # dropped by the validity filter below
            df = df.withColumn(
                "return_date",
                F.when(
                    F.col("duration_s") > 0,
                    F.timestamp_micros(
                        F.unix_micros(F.col("rent_date"))
                        + F.col("duration_s") * F.lit(1_000_000)
                    ),
                ),
            )
        # the reference drops the redundant duration after deriving
        # return_date (parse_raw_data.py:114-115)
        df = df.drop("duration", "duration_s")
    for c in CANONICAL_COLUMNS:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("timestamp" if c.endswith("date") else "string"))
    # only rows with both dates (unify.py:43-49)
    return df.select(*CANONICAL_COLUMNS).where(
        F.col("rent_date").isNotNull() & F.col("return_date").isNotNull()
    )


def unify(frames: dict[str, DataFrame]) -> DataFrame:
    """UNION ALL of normalized per-source frames (+ source tag), then dense
    id assignment. ``frames`` maps source label (e.g. year) → canonical df.

    The union is the §2.7 ``unionByName`` shape; the id is deterministic
    (ordered by source label, then rent_date, then a stable tiebreak).
    """
    tagged = [
        df.withColumn("_source", F.lit(str(label))) for label, df in sorted(frames.items())
    ]
    out = tagged[0]
    for df in tagged[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    out = assign_dense_ids(
        out, partition_col="_source", order_cols=["rent_date", "rent_station", "return_date", "return_station"]
    )
    return out.select("id", *CANONICAL_COLUMNS)


def assign_dense_ids(
    df: DataFrame, partition_col: str, order_cols: list[str], id_col: str = "id"
) -> DataFrame:
    """Deterministic dense 0..n-1 ids, scalably.

    The reference assigns ids with a single-process counter (unify.py:47-49);
    a naive Spark translation would be a global-order ``row_number`` over one
    partition. Instead: rank within each ``partition_col`` group (parallel
    window), then add each group's exclusive prefix-sum offset (tiny
    aggregate, broadcast back). One shuffle on ``partition_col``; no global
    sort, no driver bottleneck — survives arbitrary scale as long as single
    groups fit a task, which matches the per-file ingest model.

    NOTE: ``monotonically_increasing_id`` is banned — not stable across
    retries/replans (SURVEY.md §7 nondeterminism bans).
    """
    w = Window.partitionBy(partition_col).orderBy(*[F.col(c).asc_nulls_last() for c in order_cols])
    local = df.withColumn("_rank", F.row_number().over(w))

    counts = df.groupBy(partition_col).agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy(partition_col).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn("_offset", F.coalesce(F.sum("_n").over(w_off), F.lit(0))).drop("_n")

    return (
        local.join(F.broadcast(offsets), on=partition_col)
        .withColumn(id_col, (F.col("_offset") + F.col("_rank") - F.lit(1)).cast("long"))
        .drop("_rank", "_offset")
    )


def unify_csv_files(
    spark: SparkSession, files_by_year: dict[int, str], sep: str = ";"
) -> DataFrame:
    """End-to-end ingest of per-year dialect CSVs → canonical trips table
    (the reference's UnifyRawData). Unknown years are skipped with the same
    semantics as parse_raw_data.py:131-132."""
    frames: dict[str, DataFrame] = {}
    for year, path in sorted(files_by_year.items()):
        dialect = YEAR_DIALECTS.get(year)
        if dialect is None:
            continue
        raw = spark.read.csv(path, header=True, sep=sep, schema=None, inferSchema=False)
        frames[str(year)] = normalize_dialect(raw, dialect)
    if not frames:
        raise ValueError("no known-year files to unify")
    return unify(frames)
