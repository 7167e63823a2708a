"""Pipeline benchmark: drives ``SamplingPipeline`` over a generated
workload and prints its metrics.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A readable summary goes to stderr. ``--workload all`` runs every workload
of BENCHMARK.json in turn. ``--out DIR`` also writes the result and, for
a traced run, its spans there. ``--record`` processes the whole corpus
and records its golden counts into golden.json (done once per variant,
on a commit whose output is trusted).

See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import stats  # noqa: E402
import workloads  # noqa: E402

E2E_UNITS = {
    "throughput_seq_s": "seq/s",
    "batch_wall_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
DRIVER_HEAP = "2g"


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of the peak RSS (VmHWM) of ``root_pid`` and every live
    descendant: the Python driver, the JVM and its Python workers."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError):
                continue
    tree, todo = {root_pid}, [root_pid]
    while todo:
        p = todo.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                todo.append(c)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except FileNotFoundError:
            continue
    return kb / 1024.0


def session_conf(work: str, n: int, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -XX:ActiveProcessorCount={n} -XX:+UseParallelGC "
            f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/events", exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/events",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def record_golden(workload: str, variant: int, entry: dict) -> None:
    with open(workloads.GOLDEN_PATH + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            golden = workloads.load_golden()
        except FileNotFoundError:
            golden = {}
        golden.setdefault(workload, {})[str(variant)] = entry
        tmp = workloads.GOLDEN_PATH + ".tmp"
        with open(tmp, "w") as f:
            json.dump(golden, f, indent=1, sort_keys=True)
            f.write("\n")
        os.replace(tmp, workloads.GOLDEN_PATH)


def run_one(args) -> dict:
    try:
        import pyspark  # noqa: F401

        import atlassian_sampling_processor_spark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the pipeline package from {ROOT}: {e}")
        sys.exit(2)

    w = workloads.WORKLOADS[args.workload]
    variant = args.seed % workloads.VARIANTS
    golden = None
    if not args.record:
        try:
            golden = workloads.load_golden()[w.name][str(variant)]
        except (FileNotFoundError, KeyError):
            log(f"perfbench: no golden entry for {w.name} variant {variant}")
            sys.exit(3)
    try:
        corpus, digest, per_batch, gen_s = workloads.open_corpus(w, variant, golden)
    except workloads.FingerprintMismatch as e:
        log(f"perfbench: refusing to time a changed corpus: {e}")
        sys.exit(4)

    n = cores()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the pipeline's Python UDF workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = f"{work}/tmp"
    try:
        return _measure(args, w, variant, golden, corpus, digest, per_batch, gen_s, n, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, w, variant, golden, corpus, digest, per_batch, gen_s, n, work) -> dict:
    from pyspark.sql import functions as F

    from atlassian_sampling_processor_spark.config import EngineConfig, parse_policies
    from atlassian_sampling_processor_spark.pipeline import SamplingPipeline
    from atlassian_sampling_processor_spark.session import get_spark
    from atlassian_sampling_processor_spark.state import StateStore

    import gate
    import layers
    import probe
    import tracing

    trace = bool(args.trace)
    phases = {"start": time.perf_counter() - T0}
    spark = get_spark(
        app_name=f"perfbench-{w.name}",
        cores=n,
        shuffle_partitions=n,
        extra_conf=session_conf(work, n, trace),
    )
    tracer = tracing.Tracer(spark) if trace else None
    if trace:
        tracing.install(tracer, SamplingPipeline, StateStore)
    try:
        pipe = SamplingPipeline(
            spark,
            parse_policies(w.policies),
            EngineConfig(shards=n, **w.engine),
            checkpoint_dir=f"{work}/ckpt",
            output_dir=f"{work}/out",
        )
        seqs = spark.read.parquet(corpus)

        results, walls, probes, sink_bytes = {}, {}, {}, {}
        errors: list[str] = []

        def run_batch(b: int) -> bool:
            raw = seqs.filter(F.col("batch_idx") == b)
            t = time.perf_counter()
            try:
                if trace:
                    with tracer.span("pipeline.process_batch", root=True, batch=b):
                        results[b] = pipe.process_batch(raw, b)
                else:
                    results[b] = pipe.process_batch(raw, b)
            except Exception as e:  # a failed batch is a measured outcome
                traceback.print_exc()
                errors.append(f"batch {b}: {type(e).__name__}: {e}")
                return False
            walls[b] = time.perf_counter() - t
            if trace:
                # after the batch, against the state it started from, so
                # the probe neither delays nor warms up the timed call
                probes[b] = probe.probe_batch(tracer, pipe, raw, b, b - 1 if b else None)
            return True

        # closed loop: the next arrival slice is submitted only after
        # process_batch committed the previous one
        t_start = time.perf_counter()
        setup_s = t_start - T0 - gen_s
        probe_s = 0.0
        b, ok = 0, True
        while ok and b < len(per_batch):
            ok = run_batch(b)
            probe_s += probes[b]["wall_s"] if b in probes else 0.0
            b += 1
            elapsed = time.perf_counter() - t_start - probe_s
            if not args.record and b >= w.min_timed_batches and elapsed >= args.seconds:
                break
        timed_wall = time.perf_counter() - t_start - probe_s
        phases["timed_end"] = time.perf_counter() - T0
        timed = sorted(results)
        attempted = list(range(b))
        if trace:
            state_size = layers.dir_size(f"{work}/ckpt")
            for bb in timed:
                sink_bytes[bb] = layers.dir_size(f"{work}/out/routed/batch={bb}")[0]

        # flush and correctness gate, not timed
        verdict = None
        flush_span = None
        if ok:
            if trace:
                with tracer.span("pipeline.flush", root=True) as flush_span:
                    pipe.flush()
            else:
                pipe.flush()
            phases["flushed"] = time.perf_counter() - T0
            with tracer.paused() if trace else contextlib.nullcontext():
                verdict = gate.check(
                    seqs.filter(F.col("batch_idx") < b),
                    spark.read.parquet(f"{work}/out/routed"),
                    None if golden is None else golden["routed"],
                    attempted,
                )
            phases["gate_end"] = time.perf_counter() - T0
            for d in verdict.detail:
                log(f"gate: {d}")

        metrics_rows = []
        if trace and ok:
            for bb in timed:
                metrics_rows += spark.read.parquet(f"{work}/ckpt/metrics/v={bb}").collect()
        peak_rss = tree_peak_rss_mb(os.getpid())
    finally:
        stop_spark(spark)
        phases["stopped"] = time.perf_counter() - T0

    failed = set(attempted) - set(results)
    if verdict is not None:
        failed |= set(verdict.failed_batches())
    correct = ok and verdict is not None and verdict.ok
    out = {
        "correct": bool(correct),
        "attempted": len(attempted),
        "failed": len(failed),
        "metrics": {},
    }
    info = {
        "workload": w.name,
        "seed": args.seed,
        "variant": variant,
        "cores": n,
        "timed_batches": len(timed),
        "timed_sequences": sum(per_batch[bb] for bb in timed),
        "batch_walls_s": [round(walls[bb], 4) for bb in timed],
        "failed_batch_ratio": len(failed) / max(1, len(attempted)),
        "corpus_generate_s": gen_s,
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "errors": errors,
    }
    if args.record and correct:
        record_golden(
            w.name,
            variant,
            {
                "corpus": {"rows": sum(per_batch), "sha256": digest, "rows_per_batch": per_batch},
                "routed": {str(bb): c for bb, c in sorted(verdict.counts.items())
                           if bb in attempted},
            },
        )
        log(f"recorded golden for {w.name} variant {variant}")
    if not timed:
        return {"result": out, "info": info}
    if not trace:
        bw = [walls[bb] for bb in timed]
        values = {
            "throughput_seq_s": info["timed_sequences"] / timed_wall,
            "batch_wall_p50_s": stats.median(bw),
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
        }
        out["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        tail = stats.supported_percentile(len(bw))
        if tail is not None and tail > 50:
            info[f"batch_wall_p{tail}_s"] = stats.percentile(bw, tail)
    elif verdict is not None:
        jobs, tasks = tracing.read_event_log(f"{work}/events")
        values = layers.compute(
            spans=tracer.spans,
            jobs=jobs,
            tasks=tasks,
            probes=probes,
            results=results,
            sink_bytes=sink_bytes,
            state_size=state_size,
            metrics_rows=metrics_rows,
            flush_span=flush_span,
            cores=n,
        )
        out["metrics"] = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in values.items()}
        info["spans"] = tracer.to_json()
    return {"result": out, "info": info}


def summarise(res: dict) -> None:
    info, out = res["info"], res["result"]
    log(
        f"== {info['workload']} seed={info['seed']} (variant {info['variant']}) "
        f"cores={info['cores']} timed batches={info['timed_batches']} "
        f"sequences={info['timed_sequences']}"
    )
    for k, m in out["metrics"].items():
        log(f"  {k:34s} {m['value']:.6g} {m['unit']}")
    log(f"  {'failed_batch_ratio':34s} {info['failed_batch_ratio']:.6g} "
        f"({out['failed']}/{out['attempted']} batches)")
    p = [k for k in info if k.startswith("batch_wall_p")]
    log(f"  batch_wall samples={info['timed_batches']}"
        + (f" {p[0]}={info[p[0]]:.6g} s" if p else
           "; no percentile above the median has 10 samples beyond it"))
    log(f"  correct={out['correct']} phases (s since start): {info['phases_s']}")


def run_all(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [x["name"] for x in json.load(f)["workloads"]]
    combined = {}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.out:
            cmd += ["--out", args.out]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            log(f"perfbench: workload {name} exited {r.returncode}")
            return r.returncode
        combined[name] = json.loads(r.stdout.strip().splitlines()[-1])
    print(json.dumps(combined))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="directory for the result and span files")
    ap.add_argument("--record", action="store_true",
                    help="process the whole corpus and record golden counts")
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    res = run_one(args)
    summarise(res)
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        stem = os.path.join(args.out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        spans = res["info"].pop("spans", None)
        with open(stem + ".json", "w") as f:
            json.dump(res, f, indent=1)
        if spans is not None:
            with open(stem + ".spans.json", "w") as f:
                json.dump(spans, f)
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
