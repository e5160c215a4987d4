"""The full bicis pipeline as one composed DAG (SURVEY.md §3 entry points
1-2): split → profiles → window target → lag features → dataset → GLM fit →
predict → evaluate, on the driver events data (station=user_id).

This is the engine's equivalent of ``BuildAllDatasets`` +
``ModelEvaluationTask`` (``build_dataset.py:22-28``,
``evaluate_model.py:13-41``): each Luigi task becomes a runner stage with
parquet materialization; the redis feature transport becomes the broadcast
join inside ``circular_lag_features``; the three per-split datasets come
from one labeled pass instead of three re-filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bicis_spark.operators.dataset import assemble_dataset, fails_report
from bicis_spark.operators.features import circular_lag_features
from bicis_spark.operators.model import assemble_features, fit_poisson, predict
from bicis_spark.operators.profiles import event_profile_single_scan
from bicis_spark.operators.split import SplitPeriods, split_bounds, with_split_label
from bicis_spark.operators.targets import next_window_count_bucketed
from bicis_spark.plans.runner import Pipeline
from bicis_spark.sources.io import read_table


def build_pipeline(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    rent_type: str = "click",
    return_type: str = "view",
    window_seconds: int = 3600,
    periods: SplitPeriods = SplitPeriods(7, 7),
) -> Pipeline:
    p = Pipeline(spark, root)

    @p.stage("trips")
    def trips(s: SparkSession) -> DataFrame:
        ev = read_table(s, sf_dir, "events")
        return ev.where(F.col("event_type").isin(rent_type, return_type)).select(
            F.col("event_id").alias("id"),
            "ts",
            F.col("user_id").alias("station"),
            F.when(F.col("event_type") == rent_type, F.lit("rent"))
            .otherwise(F.lit("return"))
            .alias("mode"),
        )

    @p.stage("split", deps=["trips"])
    def split(s: SparkSession, trips_df: DataFrame) -> DataFrame:
        rentish = trips_df.select(
            "*",
            F.when(F.col("mode") == "rent", F.col("ts")).alias("rent_ts"),
            F.when(F.col("mode") == "return", F.col("ts")).alias("return_ts"),
        )
        bounds = split_bounds(rentish, ("rent_ts", "return_ts"), periods)
        return with_split_label(trips_df, bounds, "ts")

    @p.stage("profile", deps=["split"])
    def profile(s: SparkSession, labeled: DataFrame) -> DataFrame:
        train = labeled.where(F.col("split") == "training")
        return event_profile_single_scan(
            train, "station", "ts", "hour",
            is_rent=F.col("mode") == "rent",
            is_return=F.col("mode") == "return",
        )

    @p.stage("target", deps=["split"])
    def target(s: SparkSession, labeled: DataFrame) -> DataFrame:
        rents = labeled.where(F.col("mode") == "rent")
        # skew-bounded declared plan (operators/targets.py): the unbucketed
        # window keys on station alone, so one hot station = one straggler
        # task at scale; the bucketed variant bounds tasks by (station, day)
        return next_window_count_bucketed(
            rents, "station", "ts", "id", window_seconds, "target"
        )

    @p.stage("features", deps=["split", "profile"])
    def features(s: SparkSession, labeled: DataFrame, prof: DataFrame) -> DataFrame:
        rents = labeled.where(F.col("mode") == "rent")
        return circular_lag_features(rents, prof, "station", "ts", "id")

    @p.stage("dataset", deps=["features", "target", "split"])
    def dataset(s: SparkSession, feats: DataFrame, tgt: DataFrame, labeled: DataFrame) -> DataFrame:
        ds = assemble_dataset(feats, tgt, id_col="id")
        # carry the split label so fit/predict honor the time split
        # (BuildDataset(dataset_type) — one labeled pass instead of three)
        return ds.join(labeled.select("id", "split"), "id")

    @p.stage("predictions", deps=["dataset"])
    def predictions(s: SparkSession, ds: DataFrame) -> DataFrame:
        feature_cols = [c for c in ds.columns if c not in ("id", "target", "split")]
        # split rides through assembly and prediction: [id, label, prediction, split]
        assembled = assemble_features(ds, feature_cols=feature_cols)
        # fit ONLY on training (interface.py:40-45 / M4); predict all splits
        model = fit_poisson(
            assembled.where(F.col("split") == "training"), link="log", max_iter=1
        )
        return predict(model, assembled)

    @p.stage("evaluation", deps=["predictions"])
    def evaluation(s: SparkSession, preds: DataFrame) -> DataFrame:
        # per-split MSE (ModelEvaluationTask over each dataset_type)
        return preds.groupBy("split").agg(
            F.avg(F.pow(F.col("label") - F.col("prediction"), F.lit(2))).alias("mse")
        )

    @p.stage("fails", deps=["split", "dataset"])
    def fails(s: SparkSession, labeled: DataFrame, ds: DataFrame) -> DataFrame:
        rents = labeled.where(F.col("mode") == "rent").select("id")
        counts, _ = fails_report(rents, ds, id_col="id")
        return counts

    return p
