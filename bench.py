"""Benchmark harness.

Runs (a) the end-to-end sampling pipeline (parse → decide → route →
aggregate) over a generated tokenized-sequence corpus sized to the SF,
and (b) every driver query at $SPARK_GRAFT_SF_DIR, on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

  {"metric": "sequences/sec end-to-end", "value": N, "unit": "seq/sec",
   "queries": {...per-query sec...}, "sf": 0.1, ...}

Scaling-efficiency evidence (north rule: ≥0.8 from N→4N): run
``python bench.py --scaling`` — it re-execs the pipeline benchmark in
subprocesses at 8 and 32 cores on the SAME corpus and reports
efficiency = (T8/T32)/4 (see BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default 16, not 32: this VM is host-oversubscribed past ~16 procs —
# the same pipeline measured 110k seq/s at pinned local[16] vs 56k at
# local[32], and raw numpy fleets also run SLOWER at 32 procs than 8
# (BENCH/BASELINE.md). On a real cluster you size executors to physical
# cores for the same reason. SPARK_GRAFT_CPUS overrides.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
# pipeline corpus: ~120M spans/sf unit → sf0.1 = 3M traces ≈ 12.6M
# spans, sized so the ~6-action-per-batch fixed cost is amortized the
# way real cluster-scale batches amortize it (the old 150k-trace corpus
# left the run fixed-cost-bound: 44s for 630k rows vs 114s for 12.6M).
# Same corpus as the scaling legs. ASP_BENCH_TRACES overrides.
N_TRACES = int(os.environ.get("ASP_BENCH_TRACES", max(2000, int(30_000_000 * SF))))
N_BATCHES = 2

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def corpus_path() -> str:
    path = f"/tmp/asp_bench_corpus/v2_sf{SF}_t{N_TRACES}/seq.parquet"  # v2: lone-root traces
    if not os.path.exists(path):
        from atlassian_sampling_processor_spark import datagen

        log(f"generating corpus: {N_TRACES} traces → {path}")
        datagen.generate_sequences_parquet(
            path, n_traces=N_TRACES, seed=42, n_batches=N_BATCHES, decision_span_frac=0.005
        )
    return path


BENCH_POLICIES = [
    {"name": "errors", "type": "status_code", "status_code": {"status_codes": ["ERROR"]}},
    {"name": "big", "type": "span_count", "span_count": {"min_spans": 12}},
    {"name": "slow", "type": "latency", "latency": {"threshold_ms": 30000}},
    {
        "name": "roots",
        "type": "root_spans",
        "root_spans": {
            "sub_policy": {
                "name": "p0",
                "type": "probabilistic",
                "probabilistic": {"sampling_percentage": 0},
            }
        },
    },
    {"name": "otep", "type": "threshold"},
    {"name": "pct10", "type": "probabilistic", "probabilistic": {"sampling_percentage": 10}},
]


def run_pipeline_bench(spark, corpus: str) -> dict:
    from pyspark.sql import functions as F

    from atlassian_sampling_processor_spark.config import EngineConfig, parse_policies
    from atlassian_sampling_processor_spark.pipeline import SamplingPipeline

    work = os.environ.get("ASP_BENCH_WORKDIR", "/dev/shm/asp_bench") + f"/{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    seqs = spark.read.parquet(corpus)
    n_rows = seqs.count()
    pipe = SamplingPipeline(
        spark,
        parse_policies(BENCH_POLICIES),
        EngineConfig(
            primary_cache_size=max(20_000, N_TRACES // 4),
            secondary_cache_size=max(2_000, N_TRACES // 40),
            sampled_cache_size=10 * N_TRACES,
            non_sampled_cache_size=10 * N_TRACES,
            shards=CPUS,
        ),
        checkpoint_dir=f"{work}/ckpt",
        output_dir=f"{work}/out",
    )
    t0 = time.perf_counter()
    results = pipe.run(seqs, n_batches=N_BATCHES)
    wall = time.perf_counter() - t0
    kept = sum(r.kept for r in results)
    shutil.rmtree(work, ignore_errors=True)
    return {
        "rows": n_rows,
        "wall_sec": round(wall, 3),
        "seq_per_sec": round(n_rows / wall, 1),
        "kept": kept,
    }


def run_query_bench(spark) -> dict[str, float]:
    import __spark_entry__ as e

    out = {}
    for name, fn in e.queries().items():
        t0 = time.perf_counter()
        try:
            n = fn(spark, SF_DIR).count()
            out[name] = round(time.perf_counter() - t0, 3)
            log(f"  {name}: {out[name]}s ({n} rows)")
        except Exception as ex:
            log(f"  {name}: FAILED {ex}")
            out[name] = None
    return out


def _cal_burn(seconds: float) -> int:
    import numpy as np

    a = np.random.rand(400, 400)
    t_end = time.time() + seconds
    n = 0
    while time.time() < t_end:
        a @ a
        n += 1
    return n


def calibrate_machine(procs: int, seconds: float = 6.0) -> float:
    """Raw parallel CPU capacity at `procs` processes (numpy matmul
    ops/sec), with BLAS pinned to ONE thread per process — otherwise
    OpenBLAS fans each matmul across every core and the "1-process"
    baseline already saturates the machine, which is exactly the
    miscalibration that made round-1's ceiling look unreachable. Spawn
    (not fork) so the pinning env applies at the child's numpy import.
    The pipeline's scaling is reported both absolute and relative to
    this measured deliverable speedup."""
    import multiprocessing as mp

    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    os.environ["OMP_NUM_THREADS"] = "1"
    os.environ["MKL_NUM_THREADS"] = "1"
    ctx = mp.get_context("spawn")
    with ctx.Pool(procs) as p:
        total = sum(p.map(_cal_burn, [seconds] * procs))
    return total / seconds


def _ref_task(n_ops: int) -> float:
    """FIXED amount of single-thread work (seeded 400×400 matmul chain)
    timed inside the spawned child — the BLAS pinning env applies at its
    numpy import. Returns the wall in seconds."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.random((400, 400))
    t0 = time.perf_counter()
    for _ in range(n_ops):
        a = a @ a
        a /= np.abs(a).max()  # keep values bounded; part of the fixed work
    return time.perf_counter() - t0


def reference_task_wall(n_ops: int = 600) -> float:
    """Wall of a fixed, deterministic single-thread micro-task — the
    host-speed yardstick stored in every headline JSON. Cross-session
    throughput comparisons divide by the ratio of reference walls to
    cancel host drift (the round-4 artifact read as a 2× regression
    purely because the host slowed between rounds; see BENCH/BASELINE.md
    'Normalizing across sessions')."""
    import multiprocessing as mp

    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    os.environ["OMP_NUM_THREADS"] = "1"
    os.environ["MKL_NUM_THREADS"] = "1"
    ctx = mp.get_context("spawn")
    with ctx.Pool(1) as p:
        return p.apply(_ref_task, (n_ops,))


def machine_calibration() -> dict:
    """Host-speed figures emitted with the headline JSON so any
    cross-session comparison can normalize instead of re-benching:
    ``ref_task_wall_sec`` (fixed work, lower = faster host) and the
    BLAS-pinned parallel matmul fleet at the bench's core count."""
    return {
        "ref_task_wall_sec": round(reference_task_wall(), 3),
        "matmul_ops_per_sec": round(calibrate_machine(CPUS, seconds=4.0), 1),
        "procs": CPUS,
    }


def scaling_bench(corpus: str) -> dict:
    """Same pipeline benchmark at N and 4N cores → throughput at both,
    absolute efficiency = (T_N/T_4N)/4, and efficiency relative to the
    machine's measured raw N→4N speedup.

    Methodology (each point matters on this host):
    * every leg runs in a fresh-JVM subprocess PINNED with ``taskset`` to
      exactly that many CPUs — without pinning, local[N]'s JVM uses extra
      cores for GC/JIT/shuffle threads (observed 15× CPU at local[8]),
      which inflates the small leg and fakes poor scaling;
    * trials INTERLEAVE the legs (lo, hi, lo, hi, …) and keep the best
      wall per leg, so minute-scale host drift hits both legs equally;
    * the compute ceiling is calibrated adjacent to each trial with
      BLAS-pinned single-thread matmuls (see calibrate_machine) — the
      default 1→4 leg is chosen because this VM delivers ~4× compute
      AND ~4× memory bandwidth there, while past ~8 procs the shared
      memory bus saturates and no byte-heavy workload can scale.
    """
    lo, hi = (int(x) for x in os.environ.get("ASP_SCALING_CORES", "1,4").split(","))
    trials = int(os.environ.get("ASP_SCALING_TRIALS", "2"))
    n_cpus = os.cpu_count() or 32
    walls, cal = {lo: None, hi: None}, {lo: 0.0, hi: 0.0}

    def run_leg(cores: int) -> dict:
        subprocess.run(["sync"])  # settle page-cache writeback between runs
        cal[cores] = max(cal[cores], calibrate_machine(cores))
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), ASP_BENCH_MODE="pipeline_only")
        cmd = [sys.executable, os.path.abspath(__file__)]
        if shutil.which("taskset") and cores <= n_cpus:
            cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
        r = subprocess.run(cmd, env=env, capture_output=True, text=True, check=True)
        got = json.loads(r.stdout.strip().splitlines()[-1])
        log(f"scaling@{cores}: cal={cal[cores]:.0f} ops/s, wall={got['pipeline']['wall_sec']}")
        return got

    for _ in range(trials):
        for cores in (lo, hi):
            got = run_leg(cores)
            if walls[cores] is None or got["pipeline"]["wall_sec"] < walls[cores]["pipeline"]["wall_sec"]:
                walls[cores] = got
    t_lo, t_hi = walls[lo]["pipeline"]["wall_sec"], walls[hi]["pipeline"]["wall_sec"]
    speedup = t_lo / t_hi
    machine_speedup = cal[hi] / cal[lo]
    return {
        "cores": [lo, hi],
        f"throughput_{lo}": walls[lo]["pipeline"]["seq_per_sec"],
        f"throughput_{hi}": walls[hi]["pipeline"]["seq_per_sec"],
        "speedup": round(speedup, 3),
        "machine_raw_speedup": round(machine_speedup, 3),
        "efficiency_absolute": round(speedup / (hi / lo), 3),
        "efficiency_vs_machine": round(speedup / max(machine_speedup, 1e-9), 3),
    }


def main():
    from atlassian_sampling_processor_spark.session import get_spark

    scaling_mode = "--scaling" in sys.argv
    # pin ourselves (and the child JVM, which inherits affinity) to
    # exactly CPUS cores — unpinned, the JVM's extra threads spill onto
    # oversubscribed host CPUs and run SLOWER (local[32] unpinned: 56k
    # seq/s; local[16] pinned: 110k on the same corpus). Not in scaling
    # mode: the orchestrator must stay unpinned so each leg's taskset and
    # calibration fleet see the whole machine.
    if (
        not scaling_mode
        and hasattr(os, "sched_setaffinity")
        and CPUS <= (os.cpu_count() or 32)
    ):
        os.sched_setaffinity(0, set(range(CPUS)))
    pipeline_only = os.environ.get("ASP_BENCH_MODE") == "pipeline_only"
    corpus = corpus_path()
    # host-speed yardstick measured BEFORE the JVM spins up (idle
    # machine), skipped in the scaling legs (scaling_bench calibrates
    # adjacent to each trial already)
    calibration = None if pipeline_only else machine_calibration()
    if calibration:
        log(f"calibration: {calibration}")

    if scaling_mode:
        res = scaling_bench(corpus)
        print(
            json.dumps(
                {
                    "metric": f"scaling efficiency {res['cores'][0]}→{res['cores'][1]} cores",
                    "value": res["efficiency_absolute"],
                    "unit": "ratio",
                    "sf": SF,
                    **res,
                }
            )
        )
        return

    spark = get_spark(
        app_name="asp-bench",
        # 3 shuffle partitions per core + ~32MB scan splits: stages end in
        # full waves instead of a half-idle tail (a 10-partition scan on 4
        # cores runs 4+4+2 — the last wave wastes half the machine; finer
        # granularity + AQE packing removes that quantization loss, which
        # is pure parallel-efficiency at the 4N leg and free at the N leg)
        cores=CPUS,
        shuffle_partitions=3 * CPUS,
        extra_conf={
            # keep shuffle/spill off the slow VM disk so the measurement is
            # compute-bound (the scaling criterion compares parallelism,
            # not one shared virtio disk)
            "spark.local.dir": os.environ.get("ASP_BENCH_WORKDIR", "/dev/shm/asp_bench"),
            "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(24 * 1024 * 1024),
            # size the JVM's internal pools (GC/netty/shuffle/JIT) to the
            # CPUs the leg actually owns — under taskset the JVM otherwise
            # sees all 32 host CPUs and oversubscribes 23 GC threads onto
            # 4 pinned cores (measured 13% of wall). A real cluster
            # executor gets exactly this via its container cpu limit.
            # ParallelGC beats G1 ~8-15% on this allocation-heavy batch
            # workload (no latency SLO to protect, throughput collector
            # is the right choice for an executor JVM).
            "spark.driver.extraJavaOptions": (
                f"-XX:ActiveProcessorCount={CPUS} -XX:+UseParallelGC"
            ),
        },
    )
    pipe_res = run_pipeline_bench(spark, corpus)
    out = {
        "metric": "sequences/sec end-to-end (parse→decide→route→aggregate)",
        "value": pipe_res["seq_per_sec"],
        "unit": "seq/sec",
        "sf": SF,
        "cpus": CPUS,
        "pipeline": pipe_res,
    }
    if calibration:
        out["calibration"] = calibration
    if not pipeline_only:
        qt = run_query_bench(spark)
        out["queries"] = {**{k: v for k, v in qt.items()}, "pipeline_e2e": pipe_res["wall_sec"]}
    spark.stop()
    # full detail (per-op pipeline walls, calibration fleet, batch lists)
    # goes to a FILE; stdout's final line is a COMPACT headline the
    # driver's output-tail window can always hold — r5's BENCH artifact
    # recorded parsed:null because the full dict outgrew that window
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as f:
        json.dump(out, f, indent=1)
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "cpus": out["cpus"],
        "wall_sec": pipe_res["wall_sec"],
        "rows": pipe_res.get("rows"),
        "kept": pipe_res.get("kept"),
    }
    if calibration:
        compact["ref_task_wall_sec"] = calibration.get("ref_task_wall_sec")
    if "queries" in out:
        compact["queries"] = {k: round(v, 2) for k, v in out["queries"].items()}
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
