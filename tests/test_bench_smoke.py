"""Smoke-guard for bench.py — the driver runs it every round, so a
broken bench silently zeroes the round's performance artifact. Runs the
pipeline-only mode on a tiny corpus in a subprocess and validates the
one-line JSON contract."""

import json
import os
import subprocess
import sys


def test_bench_pipeline_only_json_contract(tmp_path):
    env = dict(
        os.environ,
        ASP_BENCH_TRACES="2000",
        ASP_BENCH_MODE="pipeline_only",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        ASP_BENCH_WORKDIR=str(tmp_path / "work"),
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
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
