"""Dataset assembly + data-quality reconciliation (SURVEY.md §2.3 J2,
§2.2 F2/F3, §2.12 L5).

Reference semantics (``bicis/etl/feature_extraction/build_dataset.py:63-110``):
features and target are keyed by trip id and joined (RDD join at ``:71-79``);
rows where either side is null are dropped (``:76``); output is
``Row(id, target, <feature columns>)`` (``build_doc``, ``:214-228``); a
"fails" report records input/output counts, the difference, and sample
error ids (``:87-110``).

Spark-first: the id join is a DataFrame inner join (shuffle-hash/SMJ on a
high-cardinality unique key — exactly what Catalyst is built for); null
filtering is inner-join semantics; the fails report is one aggregate plus
a left-anti join, not two extra full ``count()`` jobs over RDD lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_dataset(
    features: DataFrame,
    target: DataFrame,
    id_col: str = "id",
    target_col: str = "target",
) -> DataFrame:
    """features ⋈ target on id (inner) → [id, target, features...].

    Inner join == the reference's "both sides non-null" filter (J2+F3).
    Component schemas are validated disjoint first (the reference's
    composite-builder name-overlap check, ``base_builders.py:48-50``).
    """
    from bicis_spark.plans.runner import validate_disjoint_outputs

    target_named = target.select(
        F.col(id_col),
        F.col([c for c in target.columns if c != id_col][0]).alias(target_col),
    )
    validate_disjoint_outputs(
        {"target": target_named, "features": features}, [id_col]
    )
    return target_named.join(features, on=id_col, how="inner")


def fails_report(
    input_df: DataFrame,
    output_df: DataFrame,
    id_col: str = "id",
    n_sample_ids: int = 100,
) -> tuple[DataFrame, DataFrame]:
    """L5 reconciliation: (1-row counts frame, error-ids frame).

    counts: exactly one row [input_count, output_count, number_of_errors]
    of non-NULL bigints (0, 0, 0 when both frames are empty), from ONE
    aggregate over the union of the two row sets tagged by side;
    error ids: input ids absent from the output (left-anti join), limited —
    the reference's ``take(100)`` of null-feature ids (build_dataset.py:92-97).
    """
    in_ids = input_df.select(id_col)
    out_ids = output_df.select(id_col)
    sides = in_ids.select(F.lit(True).alias("_in")).unionAll(
        out_ids.select(F.lit(False).alias("_in"))
    )
    counts = sides.agg(
        F.count(F.when(F.col("_in"), 1)).alias("input_count"),
        F.count(F.when(~F.col("_in"), 1)).alias("output_count"),
    ).withColumn("number_of_errors", F.col("input_count") - F.col("output_count"))
    error_ids = in_ids.join(out_ids, on=id_col, how="left_anti").orderBy(id_col).limit(
        n_sample_ids
    )
    return counts, error_ids
