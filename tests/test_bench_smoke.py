"""Smoke-guard for bench.py — the driver runs it every round, so a
broken bench silently zeroes the round's performance artifact. Runs the
pipeline-only mode on a tiny corpus in a subprocess and validates the
one-line JSON contract and the full-detail file. bench.py writes
BENCH_FULL.json next to itself, so the test runs a copy of it from a
temporary directory and leaves the committed file alone."""

import json
import os
import shutil
import subprocess
import sys


def test_bench_pipeline_only_json_contract(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench = tmp_path / "bench.py"
    shutil.copy(os.path.join(repo, "bench.py"), bench)
    env = dict(
        os.environ,
        ASP_BENCH_TRACES="2000",
        ASP_BENCH_MODE="pipeline_only",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        ASP_BENCH_WORKDIR=str(tmp_path / "work"),
        PYTHONPATH=os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])),
    )
    r = subprocess.run(
        [sys.executable, str(bench)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    )
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["unit"] == "seq/sec"
    assert got["value"] > 0
    # the compact stdout headline (full detail goes to BENCH_FULL.json)
    assert got["rows"] > 0
    assert got["kept"] > 0
    assert got["wall_sec"] > 0
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert full["pipeline"]["rows"] > 0
    assert full["pipeline"]["kept"] > 0
