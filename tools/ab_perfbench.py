"""Interleaved A/B of ``perfbench/run.py`` between two checkouts.

For each workload and seed it runs both sides back to back, alternating
which goes first (A B, B A, ...), each run a fresh ``perfbench/run.py``
process in that checkout, so both sides see the same host drift. It
prints one JSON line: per workload and metric, each side's median, its
IQR ÷ median, the change ratio median(B) / median(A) and the number of
seeds on which B beat A (direction from side A's ``BENCHMARK.json``),
plus every run's correctness verdict and timed batch count
(``attempted``). A workload whose two sides timed different batch counts
on some seed is flagged (``attempted_mismatch``): a run that fits one
more timed batch moves ``batch_wall_p50_s`` between the cold-batch mean
and a warm batch, which can read as a speed-up or a slowdown.

    python tools/ab_perfbench.py --a /path/to/parent --b . \\
        --workloads trickle,bulk --seeds 31-40 --seconds 10 [--trace 0]

``--a``/``--b`` are checkouts of the repository (e.g. ``git clone`` or
``git worktree add`` of the parent commit). Per-run results go to
stderr as they arrive; ``--out FILE`` also keeps the raw runs as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(spec: str) -> list[int]:
    """``"31-40"`` or ``"1,5,9"`` (or a mix) → a list of seeds."""
    out: list[int] = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += range(int(lo), int(hi) + 1)
        elif part:
            out.append(int(part))
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One perfbench run; its last stdout line is the result JSON."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"correct": False, "metrics": {}, "error": proc.stderr[-2000:]}
    res["exit"] = proc.returncode
    res["wall_s"] = wall
    return res


def directions(checkout: str) -> dict[str, str]:
    """Metric name → "higher"/"lower" (better) from ``BENCHMARK.json``."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def summarize(runs: dict, better: dict[str, str]) -> dict:
    """{workload: {metric: {a: {median, iqr_over_median, n}, b: ...,
    ratio, b_wins, pairs}}, plus each side's correctness verdicts."""
    out: dict = {}
    for wl, sides in runs.items():
        names = sorted({m for side in sides.values() for r in side for m in r["metrics"]})
        per: dict = {}
        for m in names:
            entry: dict = {}
            for side in ("a", "b"):
                vals = [r["metrics"][m]["value"] for r in sides[side] if m in r["metrics"]]
                if not vals:
                    continue
                q1, med, q3 = quartiles(vals)
                entry[side] = {
                    "median": med,
                    "iqr_over_median": (q3 - q1) / med if med else None,
                    "n": len(vals),
                }
            if "a" in entry and "b" in entry and entry["a"]["median"]:
                entry["ratio"] = entry["b"]["median"] / entry["a"]["median"]
            by_seed = {
                r["seed"]: r["metrics"][m]["value"] for r in sides["a"] if m in r["metrics"]
            }
            pairs = [
                (by_seed[r["seed"]], r["metrics"][m]["value"])
                for r in sides["b"]
                if m in r["metrics"] and r["seed"] in by_seed
            ]
            sign = 1 if better.get(m, "lower") == "higher" else -1
            entry["b_wins"] = sum(1 for va, vb in pairs if sign * (vb - va) > 0)
            entry["pairs"] = len(pairs)
            per[m] = entry
        per["correct"] = {
            side: [bool(r.get("correct")) for r in sides[side]] for side in ("a", "b")
        }
        per["attempted"] = {
            side: [r.get("attempted") for r in sides[side]] for side in ("a", "b")
        }
        timed_a = {r["seed"]: r.get("attempted") for r in sides["a"]}
        per["attempted_mismatch"] = [
            r["seed"] for r in sides["b"]
            if r["seed"] in timed_a and r.get("attempted") != timed_a[r["seed"]]
        ]
        out[wl] = per
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="checkout of side A (baseline)")
    ap.add_argument("--b", required=True, help="checkout of side B (change)")
    ap.add_argument("--workloads", default="trickle,bulk")
    ap.add_argument("--seeds", default="31-40")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="file for the raw runs (JSON)")
    args = ap.parse_args()

    sides = {"a": os.path.abspath(args.a), "b": os.path.abspath(args.b)}
    runs: dict = {}
    for wl in [w for w in args.workloads.split(",") if w]:
        runs[wl] = {"a": [], "b": []}
        for i, seed in enumerate(parse_seeds(args.seeds)):
            # alternate which side runs first, so neither always follows
            # the other's page-cache and thermal state
            order = ("a", "b") if i % 2 == 0 else ("b", "a")
            for side in order:
                checkout = sides[side]
                r = run_once(checkout, wl, seed, args.seconds, args.trace)
                r["seed"] = seed
                runs[wl][side].append(r)
                brief = {k: round(v["value"], 3) for k, v in r["metrics"].items()
                         if k in ("throughput_seq_s", "batch_wall_p50_s", "setup_s",
                                  "peak_rss_mb", "pipeline.jobs_per_batch")}
                print(f"[ab] {wl} seed={seed} {side}: correct={r.get('correct')} "
                      f"attempted={r.get('attempted')} wall={r['wall_s']:.1f}s {brief}",
                      file=sys.stderr, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f)
    summary = summarize(runs, directions(sides["a"]))
    for wl, per in summary.items():
        if per["attempted_mismatch"]:
            print(f"[ab] WARNING {wl}: the sides timed different batch counts on seeds "
                  f"{per['attempted_mismatch']} (a={per['attempted']['a']}, "
                  f"b={per['attempted']['b']}); batch_wall_p50_s is not comparable there",
                  file=sys.stderr, flush=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
