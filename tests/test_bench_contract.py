"""bench.py driver contract: prints exactly one COMPACT JSON line with the
required keys (an inline per-query map once outgrew the driver's
stdout-tail capture and voided the bench gate, so per-row detail lives in
a BENCH_FULL_*.json detail file and the stdout line stays stable-size),
honoring the env overrides."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The driver captures a bounded stdout tail; BENCH_r05 "parsed": null was
# caused by a ~5 KB line. Keep a hard margin under the observed ~3 KB
# capture window so the gate can never silently void again.
_MAX_LINE_BYTES = 1500


def _detail_signatures() -> dict[str, tuple[float, int]]:
    return {
        p: (os.path.getmtime(p), os.path.getsize(p))
        for p in glob.glob(os.path.join(_REPO, "BENCH_FULL_*.json"))
    }


def test_bench_json_contract(tmp_path):
    # Detail file MUST go to tmp_path: the r6 judge observed a plain
    # `pytest tests/` run silently replace the committed sf0.1
    # BENCH_FULL_latest.json round artifact with this test's sf0.001 run.
    detail = str(tmp_path / "BENCH_FULL_test.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_DETAIL_FILE=detail,
        # Single timing pass: the round-11 driver-facing default became TWO
        # temporally-separated passes (r10 verdict #2), which doubled this
        # test's full-bench subprocess to ~875s quiet — past the old 900s
        # timeout. The contract under test is the stdout JSON line + detail
        # file routing, not the pass count; bench.py documents this env as
        # the quick-iteration knob.
        SPARK_GRAFT_BENCH_PASSES="1",
    )
    repo_artifact = os.path.join(_REPO, "BENCH_FULL_latest.json")
    artifact_sig_before = (
        (os.path.getmtime(repo_artifact), os.path.getsize(repo_artifact))
        if os.path.exists(repo_artifact)
        else None
    )
    details_before = _detail_signatures()
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=1200,  # one pass measured ~450s quiet; ~2.7x margin for a
        # loaded CI host (r11 ADVICE #4: 2x was the margin class that
        # originally flaked at 875s/900s)
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    json_lines = [
        line for line in proc.stdout.splitlines() if line.startswith("{")
    ]
    assert len(json_lines) == 1
    assert len(json_lines[0].encode()) <= _MAX_LINE_BYTES
    payload = json.loads(json_lines[0])
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert payload["value"] > 0
    assert set(payload) >= {"metric", "value", "unit", "queries", "sf"}
    assert all(v >= 0 for v in payload["queries"].values())
    # compact line: per-round overlap subtotals, not per-query rows
    assert any(k.endswith("_overlap_total") for k in payload["queries"])
    assert payload["queries"]["r1_overlap_total"] <= payload["value"] + 1e-9
    # the full per-query map moves to the detail file
    assert payload["detail_file"] == detail
    with open(detail) as f:
        full = json.load(f)
    assert full["value"] == payload["value"]
    assert full["n_timing_passes"] == 1  # env override honored
    assert len(full["queries"]) >= 15
    assert full["queries"].keys() <= set(__import__("bench").HEADLINE)
    assert payload["n_queries"] == len(full["queries"])
    # the committed round artifact must be byte-untouched by a test run
    artifact_sig_after = (
        (os.path.getmtime(repo_artifact), os.path.getsize(repo_artifact))
        if os.path.exists(repo_artifact)
        else None
    )
    assert artifact_sig_after == artifact_sig_before
    # ... and so must every other detail file in the repo: none written,
    # none changed (the default name is BENCH_FULL_sf{sf}_c{cpus}.json)
    assert _detail_signatures() == details_before
    assert full["cpus"] == 4
    assert full["rows"].keys() == full["queries"].keys()
