"""Pipeline runner: materialization + memoization + config-driven wiring
(SURVEY.md §2.12 L1-L3, §2.10 U5).

The reference orchestrates with Luigi: a task DAG where every intermediate
is a file target and "output exists" skips recompute (``split.py:48``,
``build_dataset.py:82``), parameterized by a YAML DI container
(``object_loader.py:9-60``). This runner keeps exactly those two ideas —
write-once parquet materialization with existence-check memoization, and a
thin YAML experiment config — without the scheduler daemon, process
boundaries, or ``$name``-reference object graph.

Reads: ``run`` opens only the direct deps of the stages it executes and
the requested targets. Outputs this instance wrote are read with the schema
it wrote (no inference job); others infer it. An atomic ``_SUCCESS`` marker
keeps concurrent runners from reading partial outputs.
"""

from __future__ import annotations

import importlib
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

try:
    import yaml
except ImportError:  # pragma: no cover - pyyaml is available in this env
    yaml = None


@dataclass
class Stage:
    """One pipeline node: a function (spark, inputs...) -> DataFrame.

    ``metrics`` maps metric name -> aggregate Column; the aggregates are
    attached with ``DataFrame.observe`` so they are computed BY the
    materialization job itself. Row count is always included: the
    reference's fails-report pattern (and any naive port) pays a second
    full scan per ``count()`` — at 100 TB that doubles every stage."""

    name: str
    fn: Callable[..., DataFrame]
    deps: list[str] = field(default_factory=list)
    metrics: dict[str, object] | None = None


class Pipeline:
    """A tiny DAG runner over DataFrame-producing stages.

    ``run`` topologically executes stages; each stage's output is
    materialized at ``{root}/{name}.parquet`` and skipped when already
    present (the reference's L2 incremental materialization). It returns
    the targets (all stages if None) read back from that parquet.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.stages: dict[str, Stage] = {}
        #: per-stage observed metrics from the LAST ``run`` call:
        #: {stage: {"rows": n, ...}} for executed stages,
        #: {stage: {"skipped": True}} for memoized ones.
        self.last_run_metrics: dict[str, dict] = {}
        self._schemas: dict[str, StructType] = {}  # written schema by stage name

    def stage(
        self,
        name: str,
        deps: list[str] | None = None,
        metrics: dict[str, object] | None = None,
    ):
        def deco(fn: Callable[..., DataFrame]):
            self.stages[name] = Stage(name, fn, deps or [], metrics)
            return fn

        return deco

    def _path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.parquet")

    def _done(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def run(self, targets: list[str] | None = None, force: bool = False) -> dict[str, DataFrame]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        order = self._topo_order(targets)
        execute = {n for n in order if force or not self._done(n)}
        wanted = targets or order
        needed = set(wanted).union(*(self.stages[n].deps for n in execute))
        results: dict[str, DataFrame] = {}
        self.last_run_metrics = {}
        for name in order:
            stage = self.stages[name]
            if name in execute:
                df = stage.fn(self.spark, *[results[d] for d in stage.deps])
                # observed metrics ride the write job — no second scan
                obs = Observation(f"stage:{name}")
                aggs = {"rows": F.count(F.lit(1)).alias("rows")}
                for mname, col in (stage.metrics or {}).items():
                    if mname in aggs:
                        # a user 'rows' would shadow the built-in row count
                        raise ValueError(
                            f"stage {name!r}: metric name {mname!r} collides "
                            "with a reserved observation key"
                        )
                    aggs[mname] = col.alias(mname)
                df.observe(obs, *aggs.values()).write.mode("overwrite").parquet(self._path(name))
                self._schemas[name] = df.schema
                self.last_run_metrics[name] = dict(obs.get)
            else:
                self.last_run_metrics[name] = {"skipped": True}
            if name in needed:  # a known schema skips the inference job
                schema = self._schemas.get(name)
                reader = self.spark.read.schema(schema) if schema else self.spark.read
                results[name] = reader.parquet(self._path(name))
        return {n: results[n] for n in wanted}

    def _topo_order(self, targets: list[str] | None) -> list[str]:
        wanted = targets or list(self.stages)
        order: list[str] = []
        seen: set[str] = set()
        visiting: set[str] = set()

        def visit(name: str) -> None:
            if name in seen:
                return
            if name in visiting:
                raise ValueError(f"dependency cycle at {name}")
            if name not in self.stages:
                raise KeyError(f"unknown stage {name!r}")
            visiting.add(name)
            for d in self.stages[name].deps:
                visit(d)
            visiting.discard(name)
            seen.add(name)
            order.append(name)

        for t in wanted:
            visit(t)
        return order


# ---------------------------------------------------------------------------
# U5: YAML experiment config (thin replacement for object_loader.py)
# ---------------------------------------------------------------------------


def load_callable(path: str) -> Callable:
    """'pkg.module:fn' → the callable (the reference's ``obj_from_path``,
    object_loader.py:64-95, without exec/eval)."""
    module_name, _, attr = path.partition(":")
    if not attr:
        module_name, _, attr = path.rpartition(".")
    return getattr(importlib.import_module(module_name), attr)


def load_experiment(fname: str) -> dict:
    """Parse an experiment YAML: top-level ``experiment_name`` plus
    component entries ``{type: 'module:callable', <params>...}`` resolved
    to (callable, params) pairs — the reference's DI file format
    (``object_loader.py:9-60``), including its two graph features:

    - ``$name`` references: a string param ``"$other"`` (at any nesting
      depth) resolves to the resolved value of top-level entry ``other``.
    - singletons: every entry is resolved exactly once; all references to
      it receive the *same* object (``object_loader.py:29-41``'s instance
      cache). Reference cycles raise instead of recursing forever.
    """
    if yaml is None:
        raise ImportError("pyyaml not available")
    with open(fname) as f:
        cfg = yaml.safe_load(f)

    resolved: dict[str, object] = {}
    resolving: set[str] = set()

    def resolve_entry(key: str) -> object:
        if key in resolved:
            return resolved[key]
        if key not in cfg:
            raise KeyError(f"${key} does not reference a config entry")
        if key in resolving:
            raise ValueError(f"$-reference cycle at {key!r}")
        resolving.add(key)
        val = cfg[key]
        if isinstance(val, dict) and "type" in val:
            params = {
                k: resolve_value(v) for k, v in val.items() if k != "type"
            }
            out_val: object = (load_callable(val["type"]), params)
        else:
            out_val = resolve_value(val)
        resolving.discard(key)
        resolved[key] = out_val
        return out_val

    def resolve_value(v: object) -> object:
        if isinstance(v, str) and v.startswith("$"):
            return resolve_entry(v[1:])
        if isinstance(v, list):
            return [resolve_value(x) for x in v]
        if isinstance(v, dict):
            return {k: resolve_value(x) for k, x in v.items()}
        return v

    out = {"experiment_name": cfg.get("experiment_name", "default")}
    for key in cfg:
        out[key] = resolve_entry(key)
    return out


def validate_disjoint_outputs(
    frames: dict[str, DataFrame], join_keys: list[str]
) -> None:
    """Composite-builder schema validation (the reference's name-overlap
    check, ``base_builders.py:48-50``): component outputs joined on
    ``join_keys`` must not share any non-key column — a silent overlap
    would produce ambiguous/duplicated feature columns."""
    seen: dict[str, str] = {}
    for name, df in frames.items():
        for col in df.columns:
            if col in join_keys:
                continue
            if col in seen:
                raise ValueError(
                    f"output column {col!r} produced by both "
                    f"{seen[col]!r} and {name!r}"
                )
            seen[col] = name
