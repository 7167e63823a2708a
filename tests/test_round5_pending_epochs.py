"""Round-5: FIFO-by-epoch PENDING-cache eviction (pipeline.py step 5 +
job_pending_state; state.py shared epoch layout, keyed last_seen_batch).

The pending cache's recency key is already batch-granular
(last_seen_batch), so the round-4 decision-store trick generalizes:
refreshes are delta-shaped MOVES (evict key at the old epoch + append in
epoch b), per-epoch per-tier live counts are driver arithmetic, and
capacity eviction is a watermark advance plus at most one
boundary-epoch partial read per tier — replacing the full-capacity
recency rank the round-2..4 pipeline ran on every overflow batch (the
reference's steady state, README.md:22-26: eviction IS the decision
timeout). The victim key-set must be IDENTICAL to the old
[desc last_seen_batch, desc arrival_batch, desc doc_id] keep-order rank;
the independent simulator (reference_sim.py:194-204) implements exactly
that rank, so the per-version pending-state differential here is the
eviction-order parity assertion.

Covers: steady-state overflow every batch, epoch moves (refresh of a
mid-history trace), secondary-tier (LowPriority) eviction, per-version
time travel, mid-run compaction cadences, torn-write replay, and
recency-refresh survival goldens.
"""

import pytest
from pyspark.sql import functions as F

from atlassian_sampling_processor_spark import decision as D
from atlassian_sampling_processor_spark.config import EngineConfig, parse_policies
from atlassian_sampling_processor_spark.pipeline import SamplingPipeline
from atlassian_sampling_processor_spark.state import PENDING_STATE_SCHEMA

from .helpers import seq_table_from_spans, trace_id
from .reference_sim import simulate

# span_count ≥ 4 ⇒ Sampled; lone-root traces ⇒ LowPriority (secondary
# tier) via root_spans whose sub-policy never samples
POLICIES_ENG = [
    {"name": "sc", "type": "span_count", "span_count": {"min_spans": 4}},
    {
        "name": "rs",
        "type": "root_spans",
        "root_spans": {
            "sub_policy": {
                "name": "never", "type": "span_count", "span_count": {"min_spans": 99}
            }
        },
    },
]
POLICIES_SIM = [
    {"name": "sc", "type": "span_count", "min_spans": 4},
    {"name": "rs", "type": "root_spans", "sub": {"type": "span_count", "min_spans": 99}},
]

PRIM_CAP, SEC_CAP = 10, 3


def _scenario(n_batches=9):
    """Steady-state pending pressure: per batch 4 new primary traces
    (1 non-root span) + 2 new secondary traces (lone root), plus
    refreshes of batch-(b-2) primary traces (epoch MOVES that must save
    them from eviction) and a 4th span for one batch-(b-3) trace (a
    pending→Sampled exit). Both tiers overflow from batch ~2 on."""
    eng, sim = [], []
    sid = 0

    def span(doc, batch, root=False):
        nonlocal sid
        sid += 1
        e = dict(doc_id=doc, span_id=sid, parent_span_id=0 if root else 777,
                 batch_idx=batch)
        s = dict(doc_id=doc, span_id=sid, parent=0 if root else 777,
                 start=1_700_000_000_000_000_000, end=1_700_000_000_001_000_000,
                 status="UNSET", threshold=None, is_decision=False,
                 decision_value=False, tokens_key=sid)
        return e, s

    def prim(batch, i):
        return trace_id(8000 + batch * 20 + i)

    def sec(batch, i):
        return trace_id(8500 + batch * 20 + i)

    for b in range(n_batches):
        bs = []

        def emit(doc, root=False, n=1):
            for _ in range(n):
                e, s = span(doc, b, root)
                eng.append(e)
                bs.append(s)

        for i in range(4):
            emit(prim(b, i))
        for i in range(2):
            emit(sec(b, i), root=True)
        if b >= 2:  # refresh two primaries from two batches ago (moves)
            emit(prim(b - 2, 0))
            emit(prim(b - 2, 1))
        if b >= 3:  # push one old trace over the span_count threshold
            emit(prim(b - 3, 0), n=3)
        sim.append(bs)
    return eng, sim


def _mk(spark, tmp_path, sub, **eng):
    eng.setdefault("primary_cache_size", PRIM_CAP)
    eng.setdefault("secondary_cache_size", SEC_CAP)
    return SamplingPipeline(
        spark,
        parse_policies(POLICIES_ENG),
        EngineConfig(**eng),
        checkpoint_dir=str(tmp_path / sub / "ck"),
        output_dir=str(tmp_path / sub / "out"),
    )


def _routed(pipe):
    got = []
    for sink in ("keep", "drop", "low_priority"):
        for r in pipe.read_sink(sink).collect():
            sid = 0
            for c in r.tokens[10:14]:
                sid = (sid << 16) | c
            got.append((sink, r.doc_id, sid, r.reason))
    return sorted(got)


def _sim_pend(sim_batches, upto):
    _, _, pend = simulate(
        POLICIES_SIM, sim_batches[:upto], primary_cap=PRIM_CAP, secondary_cap=SEC_CAP
    )
    return {
        doc: (p.arrival, p.last_seen, p.priority) for doc, p in pend.items()
    }


@pytest.mark.parametrize("compact_every", [1, 3, 8])
def test_pending_epoch_eviction_differential(spark, tmp_path, compact_every):
    """Sinks AND the pending state at EVERY committed version match the
    independent simulator's recency rank — watermark/move/boundary
    eviction is key-set-identical to the old full rank."""
    eng_spans, sim_batches = _scenario()
    pipe = _mk(spark, tmp_path, f"ce{compact_every}", state_compact_every=compact_every)
    pipe.run(seq_table_from_spans(spark, eng_spans))

    want_routed, _, _ = simulate(
        POLICIES_SIM, sim_batches, primary_cap=PRIM_CAP, secondary_cap=SEC_CAP
    )
    assert _routed(pipe) == sorted(
        w for w in want_routed if w[3] != "not_sampled_placeholder"
    )

    for v in range(len(sim_batches)):
        got = {
            r.doc_id: (r.arrival_batch, r.last_seen_batch, r.priority)
            for r in pipe.store.read(
                "pending_state", v, PENDING_STATE_SCHEMA
            ).collect()
        }
        assert got == _sim_pend(sim_batches, v + 1), f"version {v}"
        # capacity respected exactly at every version
        n_sec = sum(1 for a, ls, p in got.values() if p == D.PRIORITY_LOW)
        assert n_sec <= SEC_CAP
        assert len(got) - n_sec <= PRIM_CAP


def test_pending_refresh_survives_eviction(spark, tmp_path):
    """Golden for the MOVE path: a refreshed old trace must outlive
    unrefreshed peers from the same arrival epoch (recency order), and
    the evicted peers must be NotSampled decisions."""
    spans = []
    for i in range(8):  # batch 0: 8 primaries (cap 10)
        spans.append(dict(doc_id=trace_id(9100 + i), span_id=i + 1,
                          parent_span_id=7, batch_idx=0))
    # batch 1: refresh trace 9100 (move 0→1), add 9 new → 17 > cap 10:
    # evict 7 of the 8 unrefreshed epoch-0 rows (lowest doc_ids first)
    spans.append(dict(doc_id=trace_id(9100), span_id=50, parent_span_id=7, batch_idx=1))
    for i in range(9):
        spans.append(dict(doc_id=trace_id(9200 + i), span_id=60 + i,
                          parent_span_id=7, batch_idx=1))
    pipe = _mk(spark, tmp_path, "move")
    pipe.run(seq_table_from_spans(spark, spans))

    live = {r.doc_id for r in pipe.store.read("pending_state", 1).collect()}
    assert trace_id(9100) in live  # refreshed: moved to epoch 1
    # boundary partial: epoch 0 had 7 unrefreshed rows, all evicted
    assert all(trace_id(9101 + i) not in live for i in range(7))
    assert all(trace_id(9200 + i) in live for i in range(9))
    dec = {r.doc_id: (r.decision, r.policy)
           for r in pipe.store.read("decision_state", 1).collect()}
    assert dec[trace_id(9101)] == (D.NOT_SAMPLED, "__evicted__")


def test_torn_pending_epoch_write_resume(spark, tmp_path):
    """A crash after the pending epoch/evict/evmeta writes but before the
    commit marker must be invisible at the committed version, and the
    deterministic replay must converge to the clean run's state."""
    eng_spans, sim_batches = _scenario(n_batches=5)
    clean = _mk(spark, tmp_path, "clean")
    clean.run(seq_table_from_spans(spark, eng_spans))
    want = {(r.doc_id, r.arrival_batch, r.last_seen_batch)
            for r in clean.store.read("pending_state", 4).collect()}

    crash = _mk(spark, tmp_path, "crash")
    df = seq_table_from_spans(spark, eng_spans)
    crash.run(df, n_batches=4)  # commit through batch 3
    store = crash.store
    # torn batch-4 artifacts: garbage epoch + evict + evmeta at v=4
    garbage = spark.createDataFrame(
        [("f" * 32, 0, 0, 9, 0, 0, 4, 4, D.PRIORITY_UNSPECIFIED, None, "torn")],
        schema=PENDING_STATE_SCHEMA,
    )
    store.write_epoch("pending_state", 4, garbage)
    store.write_evict(
        "pending_state", 4,
        spark.createDataFrame([("a" * 32, 0)], "doc_id string, last_seen_batch int"),
    )
    store.write_evmeta("pending_state", 4, {"wm": {"primary": 99}, "counts": {}})
    assert store.last_committed_batch() == 3
    # committed version unaffected (v=4 dirs invisible; evmeta versioned)
    assert "f" * 32 not in {
        r.doc_id for r in store.read("pending_state", 3).collect()
    }
    crash.run(df)  # replays batch 4
    got = {(r.doc_id, r.arrival_batch, r.last_seen_batch)
           for r in crash.store.read("pending_state", 4).collect()}
    assert got == want


def test_pending_evmeta_counts_match_state(spark, tmp_path):
    """The driver-tracked per-epoch per-tier counts must equal the stored
    live rows at every committed version (drift would silently evict the
    wrong rows — the pipeline also fail-fasts on eviction-count
    mismatch, this checks the no-eviction path too)."""
    eng_spans, sim_batches = _scenario(n_batches=6)
    pipe = _mk(spark, tmp_path, "meta")
    pipe.run(seq_table_from_spans(spark, eng_spans))
    tier = F.when(
        F.col("priority") == D.PRIORITY_LOW, F.lit("secondary")
    ).otherwise(F.lit("primary"))
    for v in range(6):
        em = pipe.store.read_evmeta("pending_state", v)
        wm = {k: int(w) for k, w in em["wm"].items()}
        counts = {int(e): c for e, c in em["counts"].items()}
        want = {
            (int(r["e"]), r["t"]): r["n"]
            for r in pipe.store.read("pending_state", v, PENDING_STATE_SCHEMA)
            .groupBy(F.col("last_seen_batch").alias("e"), tier.alias("t"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        got = {}
        for e, c in counts.items():
            for i, t in enumerate(("primary", "secondary")):
                if e > wm.get(t, -1) and c[i] > 0:
                    got[(e, t)] = c[i]
        assert got == want, f"version {v}"
