"""Layered benchmark of the bicis_spark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload forecast_pipeline --seed 1 \\
        --seconds 15 --trace 0

One invocation:

1. generates the workload's tables with ``scripts/gen_testdata.py`` at the
   workload's scale and the given seed, into ``.perfbench/data`` (cached per
   seed; not timed);
2. sets up once: launch the JVM and start a session through
   ``session.get_spark``, import the registry, and run the first (cold)
   pass -- what a user pays once per session; that is ``setup_s``;
3. starts whole passes on the same session until ``--seconds`` seconds
   have passed and the workload's ``passes`` are done; ``run_s`` is a pass
   built from each call's fastest time over those passes;
4. checks the outputs once, outside the timed passes (registry rows against
   their DuckDB oracle SQL, the pipeline's stage row counts and per-split
   MSE); a mismatch or a raised call counts as a failed operation;
5. prints a detail line (samples, per-pass CPU seconds, quality figures,
   host probe and CPU steal, stage rows)
   and, last, the result line: ``correct``, ``attempted``, ``failed`` and
   ``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
   metrics with ``--trace 1``.

With ``--trace 1`` one more untimed pass warms up, then passes alternate
between plain and attributed (a Spark job group per call and a streaming
listener during the pass, status-store reads after it), ending on a plain
pass; the per-layer metrics are medians over the attributed passes, and the
tracing overhead is an attributed pass's time over the mean of its plain
neighbours. Spans and counts are written to ``.perfbench/out`` when the run
ends.

Everything the run reads or writes stays inside the checkout. It uses
``local[N]`` with N = min(2, CPUs) from one Python process.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
# At these scales a pass is bound by per-job overhead on the driver, not by
# task parallelism (task CPU is about 5% of wall x cores). Two task threads
# leave the other CPUs of a 4-CPU host to the driver thread, the JIT compiler
# and GC; on a 4-vCPU VM passes ran about 15% faster than with local[4].
CORES = min(2, os.cpu_count() or 1)
HEAP = "2g"  # driver JVM maximum heap
MAX_WALL_S = 150.0  # stop starting passes after this, to end within 180s


def _fail_checkout(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _host_probe() -> dict:
    """Host-speed probe (min-of-3 sha256 over 32 MiB) and 1-minute load,
    so a degraded-host window shows up in the result."""
    blob = b"\x5a" * (32 << 20)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        hashlib.sha256(blob).hexdigest()
        best = min(best, time.perf_counter() - t0)
    return {"sha256_32mib_s": best, "loadavg_1m": os.getloadavg()[0]}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])  # user..steal; guest time is inside user


def _generate(sf: float, seed: int) -> tuple[str, dict]:
    """Tables for (sf, seed) under .perfbench/data; other seeds are evicted."""
    data = os.path.join(WORK, "data")
    tag = f"sf{sf}-seed{seed}"
    out = os.path.join(data, tag)
    marker = os.path.join(out, "_ROWS.json")
    if not os.path.exists(marker):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        res = subprocess.run(
            [sys.executable, os.path.join(ROOT, "scripts", "gen_testdata.py"),
             str(sf), tmp, str(seed)],
            capture_output=True, text=True, check=True,
        )
        rows = {}  # the generator prints "<table>: <n> rows"
        for line in res.stdout.splitlines():
            name, _, rest = line.partition(": ")
            rows[name] = int(rest.split()[0])
        with open(os.path.join(tmp, "_ROWS.json"), "w") as f:
            json.dump(rows, f)
        os.replace(tmp, out)
    for d in os.listdir(data):
        if d != tag:
            shutil.rmtree(os.path.join(data, d), ignore_errors=True)
    with open(marker) as f:
        return out, json.load(f)


def _env(run_dir: str) -> dict[str, str]:
    """Point every scratch location the generator, the engine and Spark use
    into the run directory, before any of them starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Every JVM (the launcher too) keeps its temp files here and writes no
    # perf-data file under /tmp. The serial collector grows the heap from the
    # data live after each collection; G1 grows it from how long its pauses
    # took, so under G1 peak RSS followed the host's speed (1.39-1.87 GB over
    # four seeds, against 0.96-1.06 GB with the serial one).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:+UseSerialGC -Djava.io.tmpdir={tmp}")
    os.environ["BICIS_SPARK_STAGING_DIR"] = os.path.join(run_dir, "staging")
    # The engine's default local dir is /dev/shm, outside the checkout; the
    # run keeps its shuffle and spill files in the run directory instead,
    # which makes shuffles and streaming drains slower than the default.
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    for var in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS"):
        os.environ.pop(var, None)
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _cpu_s(pids: tuple[str, ...]) -> float:
    """User + system CPU seconds the processes ``pids`` have used so far."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            proc.wait(timeout=60)


def _fastest_pass(spans: list, pass_idx: list[int]) -> float:
    """Wall time of a pass made of each call's fastest time over the passes
    whose pass spans sit at ``pass_idx``, plus the fastest time between calls.

    A neighbour's burst on the shared host only ever adds time, and it rarely
    hits the same call in two passes, so the fastest of each call drops it;
    a whole pass would keep a burst in any of its calls.
    """
    calls: dict[str, list[float]] = {}
    for i in pass_idx:
        kids = [s for s in spans if s.parent == i]
        for s in kids:
            calls.setdefault(s.name, []).append(s.seconds)
        calls.setdefault("between calls", []).append(
            spans[i].seconds - sum(s.seconds for s in kids))
    return sum(min(t) for t in calls.values())


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's generator scale (smoke test)")
    args = ap.parse_args(argv)

    for need in ("bicis_spark", os.path.join("scripts", "gen_testdata.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail_checkout(f"{need} not found under {ROOT}: not an engine checkout")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS  # needs pyspark

    if args.workload not in WORKLOADS:
        _fail_checkout(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    cls = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else cls.sf

    t_start = time.perf_counter()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = os.path.join(WORK, "run", run_id)
    extra_conf = _env(run_dir)
    sf_dir, table_rows = _generate(sf, args.seed)
    gen_s = time.perf_counter() - t_start
    host_before = _host_probe()

    import duckdb

    from perfbench.trace import Tracer

    tracer = Tracer(run_id)
    spark = None
    trace = bool(args.trace)
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start", "session", "session"):
            from bicis_spark.session import get_spark

            spark = get_spark(app_name="perfbench", cores=CORES,
                              shuffle_partitions=CORES, extra_conf=extra_conf)
            spark.sparkContext.setLogLevel("ERROR")
            tracer.bind(spark)
            workload = cls(spark, sf_dir, run_dir, tracer)  # imports the registry
        session_s = time.perf_counter() - t0
        workload.run_pass("setup")
        setup_s = time.perf_counter() - t0

        # A traced run warms up with one more untimed pass, then alternates
        # plain and attributed passes (P A P ...) and ends on a plain one:
        # each attributed pass is compared with the mean of its plain
        # neighbours, which cancels most of the engine's still-falling
        # warm-up trend from the overhead ratio.
        if trace:
            workload.run_pass("warm")
        passes: list[tuple[bool, float, int, int]] = []
        pass_cpu: list[float] = []
        pids = ("self", str(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()))
        t_measure = time.perf_counter()
        ticks0 = _cpu_ticks()

        need = max(cls.passes, 3) if trace else cls.passes

        def more() -> bool:
            if len(passes) < need or trace and len(passes) % 2 == 0:
                return True
            return (time.perf_counter() - t_measure < args.seconds
                    and time.perf_counter() - t_start < MAX_WALL_S)

        while more():
            attributed = trace and len(passes) % 2 == 1
            lo = len(tracer.spans)
            cpu0 = _cpu_s(pids)
            if attributed:
                with tracer.attributed():
                    workload.run_pass(f"pass{len(passes)}")
            else:
                workload.run_pass(f"pass{len(passes)}")
            pass_cpu.append(_cpu_s(pids) - cpu0)
            passes.append((attributed, tracer.spans[lo].seconds, lo, len(tracer.spans)))
        ticks1 = _cpu_ticks()
        peak_rss = _peak_rss_mb(spark)  # before the check's own work

        t_check = time.perf_counter()
        duck = duckdb.connect()
        for name in table_rows:
            duck.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
            )
        quality = workload.check(duck)
        duck.close()
        check_s = time.perf_counter() - t_check
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    plain = [p[1] for p in passes if not p[0]]
    run_s = _fastest_pass(tracer.spans, [p[2] for p in passes if not p[0]])
    input_rows = sum(table_rows[t] for t in cls.tables)
    if trace:
        from perfbench.layers import layer_metrics

        traced = [p for p in passes if p[0]]
        metrics = layer_metrics(tracer.spans, traced, CORES)
        metrics["session.start_s"] = _metric(session_s, "s")
        metrics["trace.overhead_ratio"] = _metric(statistics.median(
            passes[i][1] / ((passes[i - 1][1] + passes[i + 1][1]) / 2)
            for i in range(1, len(passes), 2)
        ), "ratio")
    else:
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            "run_s": _metric(run_s, "s"),
            "input_rows_per_s": _metric(input_rows / run_s, "1/s"),
            "peak_rss_mb": _metric(peak_rss, "MB"),
        }

    # the end-to-end figures that are not times: printed with their units in
    # the detail line (fail_ratio is 0 on a correct engine, and the quality
    # figures belong to one workload each)
    quality_metrics = {"fail_ratio": _metric(workload.failed / workload.attempted, "ratio")}
    for name, unit in (("ann_recall_at_5", "ratio"), ("forecast_test_mse", "count^2")):
        if quality.get(name) is not None:
            quality_metrics[name] = _metric(quality.pop(name), unit)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": sf,
        "cores": CORES,
        "table_rows": table_rows,
        "input_rows": input_rows,
        "generate_s": gen_s,
        "session_start_s": session_s,
        "setup_s": setup_s,
        "pass_s": [p[1] for p in passes],
        "pass_attributed": [p[0] for p in passes],
        "pass_cpu_s": pass_cpu,
        "run_s": {"fastest_calls": run_s, "min": min(plain),
                  "median": statistics.median(plain), "max": max(plain),
                  "n": len(plain)},
        "check_s": check_s,
        "quality": quality_metrics,
        "host_before": host_before,
        "host_after": _host_probe(),
        # share of the host's CPU time the hypervisor took during the passes
        "steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        "errors": workload.errors,
        **quality,
    }
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}-trace{args.trace}.json"), "w") as f:
        json.dump({"detail": detail, "spans": [vars(s) for s in tracer.spans]},
                  f, default=str)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": workload.failed == 0,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
