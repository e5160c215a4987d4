"""The benchmark's workloads. Each drives the engine only through its public
surface: the ``plans.queries`` registry, ``build_pipeline(...).run``,
``session.get_spark`` and ``caching.release_tracked``/``tracked_count``.

A workload runs whole passes. Every call it makes into the engine sits in a
``Tracer`` span named after the module it enters, so a pass's wall time is
covered by its top-level layer spans. ``check`` runs once, after the timed
passes, and compares outputs with an independent reference.
"""

from __future__ import annotations

import math
import os
import shutil

from perfbench.trace import Tracer


class Workload:
    name = ""
    sf = 0.0  # generator scale factor of the input tables
    tables: tuple[str, ...] = ()  # tables whose rows count as the workload's input
    # Timed passes a run makes. Together they take longer than the run's
    # ``--seconds`` (15) on any host, so the count is the same on a slow
    # host and a fast one: the engine still speeds up pass after pass, and a
    # count that followed the host's speed would read a slow host slower twice.
    passes = 2

    def __init__(self, spark, sf_dir: str, work: str, tracer: Tracer) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_pass(self, label: str) -> None:
        raise NotImplementedError

    def check(self, duck) -> dict:
        """Return quality figures; count mismatches in ``self.failed``."""
        raise NotImplementedError

    def _fail(self, what: str, err: BaseException | str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {err}"[:300])


# ---------------------------------------------------------------------------
# forecast_pipeline: the paper's DAG through the pipeline runner
# ---------------------------------------------------------------------------

PIPELINE_STAGES = (
    "trips", "split", "profile", "target", "features", "dataset",
    "predictions", "evaluation", "fails",
)


class ForecastPipeline(Workload):
    """split -> profiles -> next-window target -> lag features -> dataset ->
    Poisson GLM -> per-split MSE, one runner stage per call. Each pass writes
    into a fresh root, so every stage executes exactly once and reads its
    inputs back from the parquet its dependencies wrote."""

    name = "forecast_pipeline"
    sf = 0.1
    tables = ("events",)

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self._n = 0
        self.last_root: str | None = None
        self.last_rows: dict[str, int] = {}

    def run_pass(self, label: str) -> None:
        from bicis_spark.plans.bicis_pipeline import build_pipeline

        if self.last_root:
            shutil.rmtree(self.last_root, ignore_errors=True)
        self._n += 1
        root = os.path.join(self.work, "pipeline", f"pass{self._n}")
        shutil.rmtree(root, ignore_errors=True)  # a stage with output is skipped
        t = self.tracer
        rows: dict[str, int] = {}
        with t.span(f"{label}", "pass", "pass"):
            with t.span("plans.runner.build", "plans.runner", "build"):
                p = build_pipeline(self.spark, self.sf_dir, root)
            for stage in PIPELINE_STAGES:
                self.attempted += 1
                try:
                    with t.span(f"plans.runner.{stage}", "plans.runner", "runner"):
                        p.run(targets=[stage])
                    rows[stage] = int(p.last_run_metrics[stage]["rows"])
                except Exception as e:  # a failed stage fails the pass's check
                    self._fail(stage, e)
        self.last_root, self.last_rows = root, rows

    def check(self, duck) -> dict:
        r = self.last_rows
        n_trips = duck.execute(
            "SELECT count(*) FROM events WHERE event_type IN ('click', 'view')"
        ).fetchone()[0]
        n_rents = duck.execute(
            "SELECT count(*) FROM events WHERE event_type = 'click'"
        ).fetchone()[0]
        mse = {
            row["split"]: row["mse"]
            for row in self.spark.read.parquet(
                os.path.join(self.last_root, "evaluation.parquet")
            ).collect()
        }
        fails = self.spark.read.parquet(
            os.path.join(self.last_root, "fails.parquet")
        ).collect()[0]
        checks = {
            "trips rows = click+view events": r.get("trips") == n_trips,
            "split keeps every trip": r.get("split") == n_trips,
            "dataset rows <= rents": 0 < r.get("dataset", 0) <= n_rents,
            "one prediction per dataset row": r.get("predictions") == r.get("dataset"),
            "fails input = rents": fails["input_count"] == n_rents,
            "fails output = dataset rows": fails["output_count"] == r.get("dataset"),
            "every split has a finite MSE": set(mse) == {"training", "validation", "testing"}
            and all(v is not None and math.isfinite(v) for v in mse.values()),
        }
        for what, ok in checks.items():
            self.attempted += 1
            if not ok:
                self._fail("check", what)
        return {
            "forecast_test_mse": mse.get("testing"),
            "forecast_mse": mse,
            "stage_rows": r,
        }


# ---------------------------------------------------------------------------
# registry_mix: eager fixpoints, cached ANN indexes and streaming drains
# ---------------------------------------------------------------------------

GRAPH_ROWS = ("bfs_part_supplier_hops",)
ANN_ROWS = ("ann_topk_sq8",)
STREAM_ROWS = ("streaming_hourly_counts",)


class RegistryMix(Workload):
    """Registry rows whose cost is jobs, not rows: graph fixpoints that run
    every job inside the builder under ``persisted``/``localCheckpoint``;
    ANN indexes called twice in a row (the first call builds and registers
    tracked caches, the second reuses them) with ``release_tracked`` between
    index types; and availableNow streaming drains into the memory sink."""

    name = "registry_mix"
    sf = 0.01
    # ~6 s passes of short calls: over ten seeds on a loaded host, run_s from
    # each call's fastest of three passes spread 0.21 of its median (quartile
    # distance), from the fastest of two 0.29
    passes = 3
    tables = ("lineitem", "supplier", "embeddings", "events")

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        from bicis_spark.plans import queries as registry

        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.last_frames: dict[str, object] = {}

    def _call(self, name: str, layer: str, tag: str = "") -> None:
        t = self.tracer
        self.attempted += 1
        try:
            with t.span(f"{layer}.{name}{tag}.build", layer, "build"):
                df = self.queries[name](self.spark, self.sf_dir)
            with t.span(f"{layer}.{name}{tag}.exec", layer, "exec"):
                df.write.format("noop").mode("overwrite").save()
            self.last_frames[name] = df
        except Exception as e:
            self._fail(name, e)

    def run_pass(self, label: str) -> None:
        from bicis_spark.caching import release_tracked, tracked_count

        t = self.tracer
        with t.span(label, "pass", "pass"):
            for name in GRAPH_ROWS:
                self._call(name, "operators.graph")
            for name in ANN_ROWS:
                self._call(name, "extensions.similarity", ".first")
                self._call(name, "extensions.similarity", ".repeat")
                with t.span(f"caching.release.{name}", "caching", "caching") as s:
                    s.counts["tracked"] = tracked_count()
                    s.counts["storage_bytes"] = _storage_bytes(self.spark)
                    s.counts["released"] = release_tracked()
            for name in STREAM_ROWS:
                self._call(name, "streaming")

    def check(self, duck) -> dict:
        """Every row of the last pass against its oracle SQL; then recall@5
        of each checked ANN result against the exact top-5 of the registry's
        brute-force oracle."""
        from tests.oracle_utils import assert_oracle_match

        recall = {}
        exact = self.oracles["ann_topk_bruteforce"]
        for name, df in self.last_frames.items():
            self.attempted += 1
            try:
                df = df.localCheckpoint()  # read twice below: compute once
                assert_oracle_match(df, duck, self.oracles[name], name)
                if name in ANN_ROWS:
                    duck.register("approx", df.toPandas())
                    recall[name] = duck.execute(f"""
                        WITH bf AS ({exact})
                        SELECT avg(hits) / 5.0 FROM (
                            SELECT count(approx.neighbor_id) AS hits
                            FROM bf LEFT JOIN approx
                              ON approx.query_id = bf.query_id
                             AND approx.neighbor_id = bf.neighbor_id
                            GROUP BY bf.query_id)""").fetchone()[0]
                    duck.unregister("approx")
            except Exception as e:  # AssertionError = mismatch
                self._fail(f"oracle {name}", e)
        self.last_frames = {}
        return {
            "ann_recall_at_5": sum(recall.values()) / len(recall) if recall else None,
            "ann_recall": recall,
        }


def _storage_bytes(spark) -> int:
    """Bytes the block manager holds for cached RDDs (memory + disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


WORKLOADS = {w.name: w for w in (ForecastPipeline, RegistryMix)}
