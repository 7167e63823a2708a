"""Workload definitions and their pinned, cached input corpora.

A workload is a datagen shape, a policy chain and engine capacities.
``--seed`` picks one of ``VARIANTS`` pinned corpus variants
(``seed % VARIANTS``); each variant's row count, content fingerprint and
golden routed-row counts are recorded in ``golden.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_PATH = os.path.join(HERE, "golden.json")
CACHE_DIR = os.path.join(HERE, ".cache")
VARIANTS = 10

# the numeric chain of the repository's bench.py: every policy reads
# only the integer span columns, so parse stays on enrich_core
NUMERIC_POLICIES = [
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

BIG = 10**8  # capacity no workload reaches: nothing is evicted


@dataclass(frozen=True)
class Workload:
    name: str
    policies: list
    engine: dict
    traces_per_batch: int
    batches: int
    datagen: dict = field(default_factory=dict)
    # a run times at least this many batches, however long they take
    min_timed_batches: int = 1

    def corpus_args(self, variant: int) -> dict:
        """Every input that determines the corpus bytes."""
        return {
            "workload": self.name,
            "variant": variant,
            "seed": 7919 * (variant + 1),
            "traces_per_batch": self.traces_per_batch,
            "batches": self.batches,
            "datagen": self.datagen,
        }


WORKLOADS = {
    w.name: w
    for w in [
        # large slices, no eviction: per-row parse, aggregate and sink write
        Workload(
            name="bulk",
            policies=NUMERIC_POLICIES,
            engine=dict(
                primary_cache_size=BIG,
                secondary_cache_size=BIG,
                sampled_cache_size=BIG,
                non_sampled_cache_size=BIG,
            ),
            traces_per_batch=16_000,
            batches=3,
            datagen=dict(decision_span_frac=0.005, spill_wrap=True),
        ),
        # small slices, caches that evict and state that compacts every
        # batch: per-batch fixed cost, driver and state store
        Workload(
            name="trickle",
            policies=NUMERIC_POLICIES,
            engine=dict(
                primary_cache_size=300,
                secondary_cache_size=40,
                sampled_cache_size=500,
                non_sampled_cache_size=500,
                state_compact_every=1,
            ),
            traces_per_batch=1_500,
            batches=3,
            datagen=dict(decision_span_frac=0.005, spill_wrap=True),
            # batch 0 starts from empty state; batch 1 is the first to
            # merge with pending state and release cached payload
            min_timed_batches=2,
        ),
    ]
}


def corpus_key(args: dict) -> str:
    return hashlib.sha256(json.dumps(args, sort_keys=True).encode()).hexdigest()[:16]


def fingerprint(path: str) -> tuple[int, str, list[int]]:
    """(rows, sha256 over the column values in file order, rows per batch)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    h = hashlib.sha256()
    for name in ("doc_id", "source"):
        col = t.column(name).combine_chunks()
        h.update("\x00".join(col.to_pylist()).encode())
    tok = t.column("tokens").combine_chunks()
    h.update(np.asarray(tok.value_lengths()).astype(np.int64).tobytes())
    h.update(np.asarray(tok.flatten()).astype(np.int32).tobytes())
    for name in ("n_tok", "batch_idx"):
        h.update(np.asarray(t.column(name).combine_chunks()).astype(np.int32).tobytes())
    per_batch = np.bincount(np.asarray(t.column("batch_idx").combine_chunks())).tolist()
    return t.num_rows, h.hexdigest(), per_batch


def load_golden() -> dict:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


class FingerprintMismatch(RuntimeError):
    pass


def open_corpus(
    w: Workload, variant: int, golden: dict | None
) -> tuple[str, str, list[int], float]:
    """Path of the variant's corpus (generated on first use), its
    fingerprint, its rows per batch and the generation time. Raises
    FingerprintMismatch when the corpus differs from the pinned one."""
    args = w.corpus_args(variant)
    path = os.path.join(CACHE_DIR, f"{w.name}-v{variant}-{corpus_key(args)}", "seq.parquet")
    t0 = time.perf_counter()
    if not os.path.exists(path):
        from atlassian_sampling_processor_spark import datagen

        tmp = path + ".tmp"
        datagen.generate_sequences_parquet(
            tmp,
            n_traces=args["traces_per_batch"] * args["batches"],
            seed=args["seed"],
            n_batches=args["batches"],
            row_group_traces=args["traces_per_batch"] * args["batches"],
            **args["datagen"],
        )
        os.replace(tmp, path)
    gen_s = time.perf_counter() - t0
    rows, digest, per_batch = fingerprint(path)
    if golden is not None:
        want = golden.get("corpus", {})
        if want.get("rows") != rows or want.get("sha256") != digest:
            raise FingerprintMismatch(
                f"{w.name} variant {variant}: corpus has {rows} rows / {digest}, "
                f"golden.json pins {want.get('rows')} / {want.get('sha256')}"
            )
    return path, digest, per_batch, gen_s
