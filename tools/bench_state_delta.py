"""Evidence that state commits are O(delta), not O(capacity).

The reference's caches run at 10^7–10^8 entries (README.md:65-77) with
O(1) in-place puts (internal/cache/lru_cache.go:63-71); rewriting a whole
Spark state table every batch costs O(capacity). This bench builds a
CAPACITY-row base of ``pending_spans`` (the store's merge-on-read chain
table), then measures:

* per-batch ``write_delta`` wall at DELTA rows/batch;
* the equivalent full-table rewrite wall for the same logical commit;
* read-resolution overhead at chain length 0 vs K (the merge-on-read
  price the delta commits pay);
* the compaction fold (amortized over ``compact_every`` batches).

Prints one JSON line; results recorded in BENCH/BASELINE.md.

Run: ``python tools/bench_state_delta.py`` (env: ASP_STATE_CAPACITY,
ASP_STATE_DELTA, ASP_BENCH_WORKDIR).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from atlassian_sampling_processor_spark.session import get_spark  # noqa: E402
from atlassian_sampling_processor_spark.state import (  # noqa: E402
    PENDING_SPANS_SCHEMA,
    StateStore,
)

CAPACITY = int(os.environ.get("ASP_STATE_CAPACITY", 10_000_000))
DELTA = int(os.environ.get("ASP_STATE_DELTA", 10_000))
N_DELTA_BATCHES = 6
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))


def mk_rows(spark, start: int, n: int, batch: int):
    """n synthetic pending-span rows with 32-hex doc_ids (pure exprs)."""
    return spark.range(start, start + n).select(
        F.lower(F.concat(
            F.lpad(F.hex(F.xxhash64("id")), 16, "0"),
            F.lpad(F.hex(F.xxhash64("id", F.lit("lo"))), 16, "0"),
        )).alias("doc_id"),
        F.array(F.col("id").cast("int"), F.lit(batch)).alias("tokens"),
        F.lit(2).alias("n_tok"),
        F.lit("bench").alias("source"),
        F.lit(batch).cast("int").alias("batch_idx"),
        F.lit(None).cast("int").alias("flushes"),
    )


def main():
    work = os.environ.get("ASP_BENCH_WORKDIR", "/dev/shm/asp_bench") + f"/state_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    if hasattr(os, "sched_setaffinity") and CPUS <= (os.cpu_count() or 32):
        os.sched_setaffinity(0, set(range(CPUS)))
    spark = get_spark(
        app_name="state-delta-bench", cores=CPUS, shuffle_partitions=2 * CPUS,
        extra_conf={
            "spark.local.dir": work + "/tmp",
            "spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={CPUS} -XX:+UseParallelGC",
        },
    )
    store = StateStore(spark, work + "/ck", compact_every=N_DELTA_BATCHES + 2)

    # base: CAPACITY rows at v=0 (one-time O(capacity) — the steady state
    # any approach starts from)
    t0 = time.perf_counter()
    mk_rows(spark, 0, CAPACITY, 0).write.parquet(store._base_path("pending_spans", 0))
    store.commit(0)
    t_base = time.perf_counter() - t0
    print(f"base write ({CAPACITY} rows): {t_base:.2f}s", file=sys.stderr)

    # delta batches: DELTA inserts + DELTA tombstones each (the steady-
    # state shape: decision cache at capacity evicts ~insert count)
    t_delta = []
    for b in range(1, N_DELTA_BATCHES + 1):
        ins = mk_rows(spark, CAPACITY + b * DELTA, DELTA, b)
        tomb = mk_rows(spark, (b - 1) * DELTA, DELTA, b).select("doc_id")
        t0 = time.perf_counter()
        store.write_delta("pending_spans", b, b - 1, ins, tomb, PENDING_SPANS_SCHEMA)
        store.commit(b)
        t_delta.append(time.perf_counter() - t0)
        print(f"delta batch {b}: {t_delta[-1]:.3f}s", file=sys.stderr)

    # read-resolution price at chain length K vs the bare base scan —
    # like-for-like: count(doc_id) forces both to materialize the key
    # column (a bare count() on plain parquet is metadata-only and would
    # flatter the base side)
    def materialized(df):
        # bit_xor(xxhash64(...)) forces a real scan + per-row work in both
        # cases (count(col) can be answered from parquet null statistics)
        r = df.agg(
            F.count("doc_id").alias("n"),
            F.expr("bit_xor(xxhash64(doc_id))").alias("fp"),
        ).collect()[0]
        return int(r["n"])

    t0 = time.perf_counter()
    n_resolved = materialized(
        store.read("pending_spans", N_DELTA_BATCHES, PENDING_SPANS_SCHEMA)
    )
    t_read_chain = time.perf_counter() - t0
    t0 = time.perf_counter()
    materialized(store.read("pending_spans", 0, PENDING_SPANS_SCHEMA))
    t_read_base = time.perf_counter() - t0
    assert n_resolved == CAPACITY, (n_resolved, CAPACITY)

    # the full-rewrite alternative: read the previous full table, write
    # the next full table — scan + full write every batch
    full = store.read("pending_spans", 0, PENDING_SPANS_SCHEMA)
    t0 = time.perf_counter()
    full.write.parquet(work + "/fullrw")
    t_full = time.perf_counter() - t0
    print(f"full rewrite ({CAPACITY} rows): {t_full:.2f}s", file=sys.stderr)

    # compaction fold (runs once per compact_every batches)
    b = N_DELTA_BATCHES + 1
    store.compact_every = 1  # force the fold on this write
    ins = mk_rows(spark, CAPACITY + b * DELTA, DELTA, b)
    tomb = mk_rows(spark, (b - 1) * DELTA, DELTA, b).select("doc_id")
    t0 = time.perf_counter()
    store.write_delta("pending_spans", b, b - 1, ins, tomb, PENDING_SPANS_SCHEMA)
    store.commit(b)
    t_compact = time.perf_counter() - t0
    assert store.read("pending_spans", b, PENDING_SPANS_SCHEMA).count() == CAPACITY

    avg_delta = sum(t_delta) / len(t_delta)
    out = {
        "metric": "per-batch pending_spans commit wall at CAPACITY rows",
        "capacity": CAPACITY,
        "delta_rows_per_batch": 2 * DELTA,
        "cpus": CPUS,
        "t_delta_write_avg_sec": round(avg_delta, 3),
        "t_delta_writes_sec": [round(t, 3) for t in t_delta],
        "t_full_rewrite_sec": round(t_full, 3),
        "full_over_delta": round(t_full / avg_delta, 1),
        "t_compaction_sec": round(t_compact, 3),
        "compaction_amortized_sec": round(t_compact / (N_DELTA_BATCHES + 2), 3),
        "t_read_base_sec": round(t_read_base, 3),
        "t_read_chain_sec": round(t_read_chain, 3),
    }
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
