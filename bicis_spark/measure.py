"""Timing of registry rows: the one harness that ``bench.py``,
``scripts/scale_probe.py`` and this module's CLI share.

A row is a ``(spark, sf_dir) -> DataFrame`` builder. One timed run is the
builder call followed by a write of its result to Spark's ``noop`` sink,
so the whole plan executes and nothing is collected to the driver. The
rules:

- A row's time is the minimum over ``runs`` (2) back-to-back runs in a
  pass, then over ``passes``. Run 1 pays one-time costs (codegen compile,
  persist materialization); run 2 is the steady state and reuses run 1's
  caches. Every pass re-times every row, so a load spike that covers both
  runs of one pass does not decide the row's time.
- A row named in ``prewarm`` gets one untimed run before its first pass,
  for plans whose first execution in a session (janino compile of large
  generated expressions) can swallow both timed runs.
- Tracked builder caches and the session cache are released after every
  row, so no row runs against another row's persists.

Layered records. Each run gets a job group of its own, set before the
timed region starts. The build/exec split is one ``perf_counter`` read
between the builder and the write; a job is a build job when Spark
submitted it before that read (eager work: checkpointed loops, training
collects). After the row, the listener bus is drained and the figures of
its fastest run are read from ``statusTracker`` and the status store,
which keep the last ``spark.ui.retainedJobs`` (1000) jobs also while
``spark.ui.enabled=false``. The timed region gains no py4j call, and no
job group is left set when the function returns or raises. A streaming
drain runs its jobs on the stream's own thread, so only its ``sec`` is
meaningful.

``build_s`` and ``build_jobs`` come from the fastest run, normally run 2,
which reuses what run 1 persisted: they are the steady-state build. For
a cold build, call ``measure(..., runs=1)``; every row and pass then
starts with the caches released.

CLI, one warm session::

    python -m bicis_spark.measure NAME... [--sf DIR] [--passes N]
        [--explain OUT] [--jobs]

prints one JSON record per row; ``--jobs`` adds the fastest run's jobs
and stages, ``--explain`` writes each row's formatted plan to OUT.
"""

from __future__ import annotations

import argparse
import json
import time
from collections.abc import Callable, Collection

from pyspark.sql import DataFrame, SparkSession

from bicis_spark.caching import release_tracked

Builder = Callable[[SparkSession, str], DataFrame]

#: Cheap rows run once before the CLI times anything, so the JVM and
#: codegen state resembles a bench session's mid-run state.
WARMUP_ROWS = ("pricing_summary", "topk_agg_orders_per_customer", "ml_dataset")


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def measure(
    spark: SparkSession,
    rows: dict[str, Builder],
    sf_dir: str,
    *,
    passes: int = 2,
    runs: int = 2,
    prewarm: Collection[str] = (),
    breakdown: bool = False,
) -> tuple[dict[str, dict], list[float]]:
    """Time every row of ``rows`` by the module's rules; return
    ``({row: record}, per-pass totals)``. A record holds ``sec``,
    ``build_s``, ``exec_s`` (which sum to ``sec``), ``build_jobs``,
    ``jobs``, ``stages``, ``task_cpu_s``, ``gc_s``, ``shuffle_bytes`` and
    ``spill_bytes``, all from the fastest run (``build_s`` is therefore
    the steady-state build; ``runs=1`` gives a cold one).
    ``breakdown=True`` adds that run's jobs and stages under ``job_list``."""
    sc = spark.sparkContext
    best: dict[str, dict] = {}
    pass_totals: list[float] = []
    for pass_no in range(passes):
        total = 0.0
        for name, build in rows.items():
            if pass_no == 0 and name in prewarm:
                _noop(build(spark, sf_dir))
            try:
                timed = []
                for i in range(runs):
                    group = f"measure-{name}-p{pass_no}r{i}"
                    sc.setJobGroup(group, name)
                    wall0 = time.time()
                    t0 = time.perf_counter()
                    df = build(spark, sf_dir)
                    t1 = time.perf_counter()
                    _noop(df)
                    t2 = time.perf_counter()
                    timed.append((t2 - t0, t1 - t0, group, (wall0 + t1 - t0) * 1e3))
            finally:
                sc._jsc.clearJobGroup()
            sec, build_s, group, split_ms = min(timed, key=lambda t: t[0])
            total += sec
            if name not in best or sec < best[name]["sec"]:
                rec = {"sec": round(sec, 4), "build_s": round(build_s, 4)}
                rec["exec_s"] = round(rec["sec"] - rec["build_s"], 4)
                rec.update(_job_figures(sc, group, split_ms, breakdown))
                best[name] = rec
            release_tracked()
            spark.catalog.clearCache()
        pass_totals.append(round(total, 4))
    return best, pass_totals


def _job_figures(sc, group: str, split_ms: float, with_list: bool) -> dict:
    """Figures of the jobs of ``group`` from the status stores; a stage
    with no completed task was skipped (its shuffle output reused)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, tracker = jsc.statusStore(), sc.statusTracker()
    fig = dict(build_jobs=0, jobs=0, stages=0, task_cpu_s=0.0, gc_s=0.0,
               shuffle_bytes=0, spill_bytes=0)
    job_list = []
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        info, jd = tracker.getJobInfo(jid), store.job(jid)
        submitted = jd.submissionTime().get().getTime()
        fig["jobs"] += 1
        fig["build_jobs"] += submitted < split_ms
        stages = []
        for sid in sorted(info.stageIds):
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks == 0:
                continue
            sd = store.lastStageAttempt(sid)
            s = dict(
                stage=sid, name=sd.name(), tasks=sd.numCompleteTasks(),
                task_cpu_s=sd.executorCpuTime() / 1e9, gc_s=sd.jvmGcTime() / 1e3,
                shuffle_read_bytes=sd.shuffleReadBytes(),
                shuffle_bytes=sd.shuffleWriteBytes(),
                spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            )
            stages.append(s)
            fig["stages"] += 1
            for k in ("task_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"):
                fig[k] += s[k]
        job_list.append(dict(
            job=jid, build=submitted < split_ms, stages=stages,
            sec=(jd.completionTime().get().getTime() - submitted) / 1e3,
        ))
    fig["task_cpu_s"] = round(fig["task_cpu_s"], 4)
    fig["gc_s"] = round(fig["gc_s"], 4)
    if with_list:
        fig["job_list"] = job_list
    return fig


def _print_jobs(job_list: list[dict]) -> None:
    for j in job_list:
        print(f"  job {j['job']:5d} {j['sec']:7.3f}s {'build' if j['build'] else 'exec'}")
        for s in j["stages"]:
            print(
                f"    stage {s['stage']:5d} tasks={s['tasks']:4d}"
                f" cpu={s['task_cpu_s']:7.3f}s gc={s['gc_s']:6.3f}s"
                f" shufR={s['shuffle_read_bytes'] / 1e6:8.2f}MB"
                f" shufW={s['shuffle_bytes'] / 1e6:8.2f}MB"
                f" spill={s['spill_bytes'] / 1e6:8.2f}MB  {s['name'][:60]}"
            )


def main(argv: list[str] | None = None) -> None:
    from bicis_spark.plans import queries as registry
    from bicis_spark.session import DEFAULT_SF_DIR, get_spark

    ap = argparse.ArgumentParser(prog="python -m bicis_spark.measure")
    ap.add_argument("names", nargs="+", metavar="NAME")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--explain", metavar="OUT", help="write each row's formatted plan to OUT")
    ap.add_argument("--jobs", action="store_true", help="print each row's jobs and stages")
    args = ap.parse_args(argv)

    reg = registry.queries()
    missing = [n for n in args.names if n not in reg]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")
    spark = get_spark(app_name="measure")
    spark.sparkContext.setLogLevel("ERROR")
    for w in WARMUP_ROWS:
        _noop(reg[w](spark, args.sf))
    release_tracked()
    spark.catalog.clearCache()

    records, _ = measure(
        spark, {n: reg[n] for n in args.names}, args.sf,
        passes=max(1, args.passes), breakdown=args.jobs,
    )
    for name, rec in records.items():
        job_list = rec.pop("job_list", [])
        print(json.dumps({"name": name, **rec}), flush=True)
        _print_jobs(job_list)

    if args.explain:
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        with open(args.explain, "w") as fh:
            for name in args.names:
                plan = reg[name](spark, args.sf)._jdf.queryExecution().explainString(mode)
                fh.write(f"== {name} ==\n{plan}\n")
                release_tracked()
        print(f"explain written: {args.explain}")
    spark.stop()


if __name__ == "__main__":
    main()
