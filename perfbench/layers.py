"""Per-layer metrics from the spans of attributed passes.

Each metric is computed per pass and reported as the median over the
attributed passes of the run. Times are seconds per pass and counts are per
pass. ``operators.*`` sums the Spark work of every call outside
``extensions`` (runner stages, graph rows, caching, streaming drains);
``extensions.*`` sums the work of the similarity calls. A layer the
workload does not enter reads 0.
"""

from __future__ import annotations

import statistics

from perfbench.trace import Span
from perfbench.workloads import ANN_ROWS, GRAPH_ROWS, PIPELINE_STAGES, STREAM_ROWS

_WORK = {"task_cpu_s": "s", "gc_s": "s", "shuffle_bytes": "bytes",
         "spill_bytes": "bytes", "busy_ratio": "ratio"}

UNITS: dict[str, str] = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.job_s.p50": "s",
    **{f"plans.runner.stage_s.{s}": "s" for s in PIPELINE_STAGES},
    "plans.runner.write_bytes": "bytes",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes",
    **{f"operators.{k}": u for k, u in _WORK.items()},
    **{f"extensions.{k}": u for k, u in _WORK.items()},
    **{f"operators.graph.{r}_{k}": u for r in GRAPH_ROWS
       for k, u in (("s", "s"), ("jobs", "count"))},
    **{f"extensions.similarity.{r}_{k}_s": "s" for r in ANN_ROWS
       for k in ("first", "repeat")},
    "caching.tracked": "count",
    "caching.released": "count",
    "caching.storage_bytes": "bytes",
    "caching.repeat_ratio": "ratio",
    "streaming.batches": "count",
    "streaming.empty_batch_ratio": "ratio",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    **{f"streaming.{r}_s": "s" for r in STREAM_ROWS},
    "trace.overhead_ratio": "ratio",
    "trace.span_coverage": "ratio",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _sum(spans: list[Span], key: str) -> float:
    return sum(s.counts.get(key, 0) for s in spans)


def _seconds(spans: list[Span], prefix: str) -> float:
    return sum(s.seconds for s in spans if s.name.startswith(prefix))


def _work(spans: list[Span], cores: int) -> dict[str, float]:
    """Task-side work of ``spans``; busy = task CPU / (span wall x cores)."""
    cpu = _sum(spans, "cpu_s")
    return {
        "task_cpu_s": cpu,
        "gc_s": _sum(spans, "gc_s"),
        "shuffle_bytes": _sum(spans, "shuffle_bytes"),
        "spill_bytes": _sum(spans, "spill_bytes"),
        "busy_ratio": _ratio(cpu, sum(s.seconds for s in spans) * cores),
    }


def _pass_metrics(spans: list[Span], lo: int, hi: int, cores: int) -> dict[str, float]:
    calls = [s for s in spans[lo:hi] if s.parent == lo]  # the pass's top level
    ext = [s for s in calls if s.layer.startswith("extensions")]
    ops = [s for s in calls if not s.layer.startswith("extensions")]
    job_s = [t for s in calls for t in s.counts.get("job_s", [])]
    ms = 1e-3

    m = {
        "plans.build_s": sum(s.seconds for s in calls if s.kind == "build"),
        "plans.build_jobs": _sum([s for s in calls if s.kind == "build"], "jobs"),
        "plans.exec_s": sum(s.seconds for s in calls if s.kind in ("exec", "runner")),
        "plans.jobs": _sum(calls, "jobs"),
        "plans.stages": _sum(calls, "stages"),
        "plans.tasks": _sum(calls, "tasks"),
        "plans.job_s.p50": statistics.median(job_s) if job_s else 0.0,
        "plans.runner.write_bytes": _sum(
            [s for s in calls if s.kind == "runner"], "output_bytes"),
        "sources.scan_rows": _sum(calls, "input_rows"),
        "sources.scan_bytes": _sum(calls, "input_bytes"),
        "caching.tracked": max((s.counts.get("tracked", 0) for s in calls), default=0),
        "caching.released": _sum(calls, "released"),
        "caching.storage_bytes": max(
            (s.counts.get("storage_bytes", 0) for s in calls), default=0),
        "streaming.batches": _sum(calls, "batches"),
        "streaming.empty_batch_ratio": _ratio(
            _sum(calls, "empty_batches"), _sum(calls, "batches")),
        "streaming.trigger_s": _sum(calls, "trigger_ms") * ms,
        "streaming.add_batch_s": _sum(calls, "add_batch_ms") * ms,
        "streaming.query_planning_s": _sum(calls, "planning_ms") * ms,
        "streaming.wal_commit_s": _sum(calls, "wal_commit_ms") * ms,
        "streaming.state_commit_s": _sum(calls, "state_commit_ms") * ms,
        "streaming.state_rows": _sum(calls, "state_rows"),
        "streaming.state_bytes": _sum(calls, "state_bytes"),
        "trace.span_coverage": _ratio(sum(s.seconds for s in calls), spans[lo].seconds),
    }
    for layer, group in (("operators", ops), ("extensions", ext)):
        m.update({f"{layer}.{k}": v for k, v in _work(group, cores).items()})
    for stage in PIPELINE_STAGES:
        m[f"plans.runner.stage_s.{stage}"] = sum(
            s.seconds for s in calls if s.name == f"plans.runner.{stage}")
    for row in GRAPH_ROWS:
        m[f"operators.graph.{row}_s"] = _seconds(calls, f"operators.graph.{row}.")
        m[f"operators.graph.{row}_jobs"] = _sum(
            [s for s in calls if s.name.startswith(f"operators.graph.{row}.")], "jobs")
    repeat = []
    for row in ANN_ROWS:
        for tag in ("first", "repeat"):
            m[f"extensions.similarity.{row}_{tag}_s"] = _seconds(
                calls, f"extensions.similarity.{row}.{tag}.")
        repeat.append(_ratio(m[f"extensions.similarity.{row}_repeat_s"],
                             m[f"extensions.similarity.{row}_first_s"]))
    m["caching.repeat_ratio"] = statistics.median(repeat) if repeat else 0.0
    for row in STREAM_ROWS:
        m[f"streaming.{row}_s"] = _seconds(calls, f"streaming.{row}.")
    return m


def layer_metrics(spans: list[Span], passes: list[tuple], cores: int) -> dict:
    """Median per-layer metrics over the attributed ``passes``
    (``(attributed, wall, lo, hi)`` index ranges into ``spans``)."""
    per_pass = [_pass_metrics(spans, lo, hi, cores) for _, _, lo, hi in passes]
    return {
        name: {"value": statistics.median(p[name] for p in per_pass), "unit": UNITS[name]}
        for name in per_pass[0]
    }
