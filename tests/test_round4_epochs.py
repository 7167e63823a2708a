"""Round-4: FIFO-by-epoch decision-cache eviction (pipeline.py
job_decision_state + state.py epoch layout).

Decisions are immutable and never recency-refreshed (first-wins), so the
reference's decision-cache LRU order ≡ insertion order and eviction can
be a driver-side watermark advance over `decided_batch` epochs, with at
most one O(boundary-epoch) partial-evict job — replacing the round-3
O(capacity) full-chain rank. The evicted key-set must be IDENTICAL to
the old [desc decided_batch, desc doc_id] keep-order rank; the
independent simulator (reference_sim.py) implements exactly that rank,
so the per-version differential here is the eviction-order parity
assertion the round-3 verdict asked for.

Covers: whole-epoch watermark eviction, boundary-epoch partial eviction,
re-decision after eviction (an old evict key must not kill the fresh
epoch row — keys pair (doc_id, decided_batch)), time-travel reads at
every committed version, mid-run compaction, and the nop-cache
truncation the round-3 ADVICE flagged.
"""

import pytest
from pyspark.sql import functions as F

from atlassian_sampling_processor_spark import decision as D
from atlassian_sampling_processor_spark.config import EngineConfig, parse_policies
from atlassian_sampling_processor_spark.pipeline import SamplingPipeline
from atlassian_sampling_processor_spark.state import DECISION_STATE_SCHEMA

from .helpers import seq_table_from_spans, trace_id
from .reference_sim import simulate

# status ERROR ⇒ Sampled; everything else ⇒ NotSampled via the downgrader
POLICIES_ENG = [
    {"name": "err", "type": "status_code", "status_code": {"status_codes": ["ERROR"]}},
    {
        "name": "down",
        "type": "downgrader",
        "downgrader": {
            "downgrade_to": "NotSampled",
            "sub_policy": {"name": "s", "type": "span_count", "span_count": {"min_spans": 1}},
        },
    },
]
POLICIES_SIM = [
    {"name": "err", "type": "status_code", "codes": ["ERROR"]},
    {"name": "down", "type": "downgrader", "to": D.NOT_SAMPLED,
     "sub": {"type": "span_count", "min_spans": 1}},
]

S_CAP, NS_CAP = 5, 6


def _scenario(n_batches=8):
    """Per batch: 3 error traces (→Sampled) + 4 ok traces (→NotSampled),
    plus re-sends of batch-(b-2) docs — some still cached (late_* path),
    some already evicted (re-decision into a fresh epoch)."""
    eng, sim = [], []
    sid = 0

    def span(doc, status, batch):
        nonlocal sid
        sid += 1
        e = dict(doc_id=doc, span_id=sid, status=status, batch_idx=batch)
        s = dict(
            doc_id=doc, span_id=sid, parent=0, start=1_700_000_000_000_000_000,
            end=1_700_000_000_001_000_000, status=["UNSET", "OK", "ERROR"][status],
            threshold=None, is_decision=False, decision_value=False, tokens_key=sid,
        )
        return e, s

    def docs_of(batch):
        return (
            [trace_id(5000 + batch * 10 + i) for i in range(3)],  # error
            [trace_id(5100 + batch * 10 + i) for i in range(4)],  # ok
        )

    for b in range(n_batches):
        batch_sim = []
        errs, oks = docs_of(b)
        for d in errs:
            e, s = span(d, 2, b)
            eng.append(e)
            batch_sim.append(s)
        for d in oks:
            e, s = span(d, 0, b)
            eng.append(e)
            batch_sim.append(s)
        if b >= 2:  # re-send everything from two batches ago
            old_errs, old_oks = docs_of(b - 2)
            for d in old_errs:
                e, s = span(d, 2, b)
                eng.append(e)
                batch_sim.append(s)
            for d in old_oks:
                e, s = span(d, 0, b)
                eng.append(e)
                batch_sim.append(s)
        sim.append(batch_sim)
    return eng, sim


def _mk(spark, tmp_path, sub, **eng):
    eng.setdefault("sampled_cache_size", S_CAP)
    eng.setdefault("non_sampled_cache_size", NS_CAP)
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


@pytest.mark.parametrize("compact_every", [1, 3, 8])
def test_epoch_eviction_differential(spark, tmp_path, compact_every):
    eng_spans, sim_batches = _scenario()
    pipe = _mk(spark, tmp_path, f"ce{compact_every}", state_compact_every=compact_every)
    pipe.run(seq_table_from_spans(spark, eng_spans))

    want_routed, want_dec, _ = simulate(
        POLICIES_SIM, sim_batches,
        sampled_cache_cap=S_CAP, non_sampled_cache_cap=NS_CAP,
    )
    assert _routed(pipe) == sorted(
        (s, d, k, r) for s, d, k, r in want_routed if r != "not_sampled_placeholder"
    )

    # decision state matches the simulator at EVERY committed version
    # (time travel through watermarks, partial evicts and compactions)
    for v in range(len(sim_batches)):
        _, dec_v, _ = simulate(
            POLICIES_SIM, sim_batches[: v + 1],
            sampled_cache_cap=S_CAP, non_sampled_cache_cap=NS_CAP,
        )
        got = {
            r.doc_id: r.decision
            for r in pipe.store.read("decision_state", v, DECISION_STATE_SCHEMA).collect()
        }
        assert got == {doc: d for doc, (d, _p, _b) in dec_v.items()}, f"version {v}"

    # capacity respected exactly (the rank's post-eviction sizes)
    final = pipe.store.read(
        "decision_state", pipe.store.last_committed_batch(), DECISION_STATE_SCHEMA
    )
    sizes = {r["decision"]: r["n"] for r in final.groupBy("decision").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes.get(D.SAMPLED, 0) <= S_CAP
    assert sizes.get(D.NOT_SAMPLED, 0) <= NS_CAP

    # decision_evictions metric totals == inserts − live (conservation)
    metrics = []
    for v in range(len(sim_batches)):
        metrics += pipe.store.read("metrics", v).collect()
    n_evicted = sum(r.value for r in metrics if r.metric == "decision_evictions")
    n_inserted = sum(
        r.value for r in metrics if r.metric == "policy_decisions"
        and r.labels.get("decision") in ("Sampled", "NotSampled")
        and not r.labels.get("decision_from")  # skip dup-labelled rows
    )
    assert n_inserted - n_evicted == final.count()


def test_nop_decision_cache_truncates_checkpoint(spark, tmp_path):
    """ADVICE r3: reconfiguring the decision caches to 0 on an existing
    checkpoint must forget prior decisions (reference nop cache remembers
    nothing) — the late span re-evaluates instead of hitting the cache."""
    doc = trace_id(7700)
    pipe = _mk(spark, tmp_path, "nop")  # normal caches: decision recorded
    pipe.run(seq_table_from_spans(spark, [dict(doc_id=doc, span_id=1, status=2, batch_idx=0)]))
    assert pipe.store.read("decision_state", 0, DECISION_STATE_SCHEMA).count() == 1

    nop = SamplingPipeline(
        spark,
        parse_policies(POLICIES_ENG),
        EngineConfig(sampled_cache_size=0, non_sampled_cache_size=0),
        checkpoint_dir=str(tmp_path / "nop" / "ck"),
        output_dir=str(tmp_path / "nop" / "out"),
    )
    nop.run(
        seq_table_from_spans(
            spark,
            [dict(doc_id=doc, span_id=2, status=2, batch_idx=0),
             dict(doc_id=doc, span_id=3, status=2, batch_idx=1)],
        )
    )
    # batch 1's span was re-evaluated (reason 'sampled'), NOT served from
    # the (truncated) decision cache as 'late_sampled'
    reasons = {
        (r.released_batch, r.reason)
        for r in nop.read_sink("keep").filter(F.col("doc_id") == doc).collect()
    }
    assert (1, "sampled") in reasons
    assert (1, "late_sampled") not in reasons
    assert nop.store.read("decision_state", 1, DECISION_STATE_SCHEMA).count() == 0


def test_single_kind_watermark_preserves_other_kind(spark, tmp_path):
    """Regression (round-4 review): a watermark for ONE kind must not
    prune the other kind's live rows in the same epochs — store-level
    repro plus a pipeline run where only the sampled cache overflows."""
    from atlassian_sampling_processor_spark.state import StateStore

    store = StateStore(spark, str(tmp_path / "ck"))
    store.write_epoch(
        "decision_state", 0,
        spark.createDataFrame(
            [("aa", D.SAMPLED, "p", 0), ("bb", D.NOT_SAMPLED, "q", 0)],
            schema=DECISION_STATE_SCHEMA,
        ),
    )
    store.write_epoch(
        "decision_state", 1,
        spark.createDataFrame([("cc", D.SAMPLED, "p", 1)], schema=DECISION_STATE_SCHEMA),
    )
    store.write_evmeta("decision_state", 1, {"wm": {str(D.SAMPLED): 0}, "counts": {}})
    store.commit(1)
    got = {
        r.doc_id: r.decision
        for r in store.read("decision_state", 1, DECISION_STATE_SCHEMA).collect()
    }
    assert got == {"bb": D.NOT_SAMPLED, "cc": D.SAMPLED}

    # pipeline-level: sampled cache cap 2, not-sampled cap huge; errors
    # overflow the sampled cache while early NOT_SAMPLED decisions must
    # keep serving late spans
    pipe = _mk(
        spark, tmp_path, "onekind",
        sampled_cache_size=2, non_sampled_cache_size=10_000,
        state_compact_every=3,
    )
    spans = [dict(doc_id=trace_id(7900), span_id=1, status=0, batch_idx=0)]  # NOT_SAMPLED
    sid = 2
    for b in range(4):
        for i in range(3):  # 3 errors per batch → sampled cache churns
            spans.append(dict(doc_id=trace_id(7910 + b * 10 + i), span_id=sid, status=2, batch_idx=b))
            sid += 1
    spans.append(dict(doc_id=trace_id(7900), span_id=99, status=0, batch_idx=3))  # late
    pipe.run(seq_table_from_spans(spark, spans))
    drops = [
        r.reason for r in pipe.read_sink("drop").filter(F.col("doc_id") == trace_id(7900)).collect()
        if r.released_batch == 3
    ]
    assert drops == ["late_not_sampled"]


def test_epoch_vacuum_preserves_latest_state(spark, tmp_path):
    """vacuum() after epoch-era compactions: shadowed epoch/evict
    segments are reclaimed, the latest resolved state is unchanged, and
    further batches keep committing."""
    import os

    eng_spans, sim_batches = _scenario()
    pipe = _mk(spark, tmp_path, "vac", state_compact_every=3)
    pipe.run(seq_table_from_spans(spark, eng_spans))
    store = pipe.store
    last = store.last_committed_batch()
    before = {
        r.doc_id: r.decision
        for r in store.read("decision_state", last, DECISION_STATE_SCHEMA).collect()
    }
    for t in ("pending_state", "pending_spans", "decision_state"):
        store.vacuum(t, last)
    after = {
        r.doc_id: r.decision
        for r in store.read("decision_state", last, DECISION_STATE_SCHEMA).collect()
    }
    assert after == before
    # shadowed epoch dirs (≤ the newest base) are gone
    base, _ = store._chain("decision_state", last)
    assert base is not None
    bv = base[0]
    edir = os.path.join(str(tmp_path / "vac" / "ck"), "decision_state", "epoch")
    leftover = [v for v in os.listdir(edir) if int(v[2:]) <= bv] if os.path.isdir(edir) else []
    assert leftover == []
    # the pipeline keeps going after vacuum
    more = [dict(doc_id=trace_id(5999), span_id=90001, status=2, batch_idx=last + 1)]
    pipe.run(seq_table_from_spans(spark, eng_spans + more))
    final = {
        r.doc_id: r.decision
        for r in store.read("decision_state", last + 1, DECISION_STATE_SCHEMA).collect()
    }
    assert final.get(trace_id(5999)) == D.SAMPLED


def test_torn_epoch_write_resume(spark, tmp_path):
    """Crash AFTER batch-1 epoch/evict/evmeta writes but BEFORE the
    commit marker: the uncommitted layout must be invisible (reads at
    batch 0 unchanged) and the replay must overwrite it, converging to
    the clean run's routed rows and decision state."""
    eng_spans, sim_batches = _scenario(n_batches=4)
    clean = _mk(spark, tmp_path, "tclean")
    clean.run(seq_table_from_spans(spark, eng_spans))
    want_routed = _routed(clean)
    want_dec = {
        r.doc_id: r.decision
        for r in clean.store.read("decision_state", 3, DECISION_STATE_SCHEMA).collect()
    }

    crash = _mk(spark, tmp_path, "tcrash")
    crash.run(seq_table_from_spans(spark, eng_spans), n_batches=1)  # commit batch 0
    store = crash.store
    dec0 = {
        r.doc_id: r.decision
        for r in store.read("decision_state", 0, DECISION_STATE_SCHEMA).collect()
    }
    # torn batch-1 leftovers: garbage epoch, a bogus evict key for a
    # LIVE batch-0 decision, and an evmeta claiming it was evicted
    victim = sorted(dec0)[0]
    store.write_epoch(
        "decision_state", 1,
        spark.createDataFrame([("f" * 32, D.SAMPLED, "torn", 1)], schema=DECISION_STATE_SCHEMA),
    )
    store.write_evict(
        "decision_state", 1,
        spark.createDataFrame([(victim, 0)], "doc_id string, decided_batch int"),
    )
    store.write_evmeta("decision_state", 1, {"wm": {str(D.SAMPLED): 0}, "counts": {}})
    # marker still at 0 → the torn layout is invisible
    assert store.last_committed_batch() == 0
    assert {
        r.doc_id: r.decision
        for r in store.read("decision_state", 0, DECISION_STATE_SCHEMA).collect()
    } == dec0

    crash.run(seq_table_from_spans(spark, eng_spans))  # replay batches 1-3
    assert _routed(crash) == want_routed
    got_dec = {
        r.doc_id: r.decision
        for r in store.read("decision_state", 3, DECISION_STATE_SCHEMA).collect()
    }
    assert got_dec == want_dec
    assert "f" * 32 not in got_dec
