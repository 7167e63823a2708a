"""Round-3 feature tests:

* torn-write crash resume — a kill BETWEEN a state write and the commit
  marker (the case that bites operators; round-1's test killed between
  batches) must replay idempotently: uncommitted epoch/base directories
  are invisible to the store's reads and get overwritten by the replay
  (state.py commit protocol; reference resumability DESIGN.md:148-167).
* delta-chain equivalence — identical sinks and final state at
  state_compact_every = 1 (full rewrite per batch, the round-2 shape),
  2 (compaction fires mid-run) and 8 (pure delta chain).
* delta commits are delta-SIZED — the O(delta) claim, checked on the
  actual files: a batch touching 1 of 50 pending traces writes a
  1-row delta, not a 50-row table.
* remote_probabilistic per-batch rate refresh — the rate getter is
  consulted at every batch's plan build; rate changes flip decisions,
  a getter error falls back to default_rate
  (internal/evaluators/remote_probabilistic.go:44-100).
"""

import pytest
from pyspark.sql import functions as F

from atlassian_sampling_processor_spark import decision as D
from atlassian_sampling_processor_spark.config import EngineConfig, parse_policies
from atlassian_sampling_processor_spark.pipeline import SamplingPipeline
from atlassian_sampling_processor_spark.policies.builders import RemoteProbabilistic
from atlassian_sampling_processor_spark.state import (
    DECISION_STATE_SCHEMA,
    PENDING_STATE_SCHEMA,
)

from .helpers import seq_table_from_spans, trace_id

SPAN_COUNT_2 = [{"name": "sc2", "type": "span_count", "span_count": {"min_spans": 2}}]


def _mk(spark, tmp_path, sub, policies=SPAN_COUNT_2, **eng):
    return SamplingPipeline(
        spark,
        parse_policies(policies),
        EngineConfig(**eng),
        checkpoint_dir=str(tmp_path / sub / "ck"),
        output_dir=str(tmp_path / sub / "out"),
    )


def _sink_rows(pipe, sink):
    return sorted(
        (r.doc_id, tuple(r.tokens), r.reason, r.released_batch)
        for r in pipe.read_sink(sink).collect()
    )


def _spans_multi_batch():
    """4 batches: trace A pending across all, B sampled in b1, C decided
    via decision span in b2, D..H filler pendings, capacity small enough
    to evict in b3."""
    A, B, C = trace_id(300), trace_id(301), trace_id(302)
    spans = [
        dict(doc_id=A, span_id=1, batch_idx=0),
        dict(doc_id=B, span_id=2, batch_idx=0),
        dict(doc_id=B, span_id=3, batch_idx=1),  # B hits min_spans=2
        dict(doc_id=C, span_id=4, batch_idx=1),
        dict(doc_id=C, span_id=5, batch_idx=2, is_decision_span=1, decision_value=1),
        dict(doc_id=A, span_id=6, batch_idx=2),  # A re-touched, now 2 spans → sampled
    ]
    for i in range(8):  # filler pendings arriving over b2/b3 to force eviction
        spans.append(dict(doc_id=trace_id(310 + i), span_id=50 + i, batch_idx=2 + (i % 2)))
    return spans


def _run_all(pipe, spark, spans):
    pipe.run(seq_table_from_spans(spark, spans))
    return {
        "keep": _sink_rows(pipe, "keep"),
        "drop": _sink_rows(pipe, "drop"),
        "low": _sink_rows(pipe, "low_priority"),
        "pending": sorted(
            r.doc_id for r in pipe.store.read(
                "pending_state", pipe.store.last_committed_batch()
            ).collect()
        ),
        "decisions": sorted(
            (r.doc_id, r.decision)
            for r in pipe.store.read(
                "decision_state", pipe.store.last_committed_batch()
            ).collect()
        ),
    }


def test_torn_write_resume(spark, tmp_path):
    """Crash AFTER batch-1 state writes but BEFORE the commit marker:
    replay must overwrite the torn (uncommitted) epoch AND a torn
    compaction base, and converge to the clean run's sinks + state."""
    spans = _spans_multi_batch()
    clean = _mk(spark, tmp_path, "clean", primary_cache_size=6)
    want = _run_all(clean, spark, spans)

    crash = _mk(spark, tmp_path, "crash", primary_cache_size=6)
    crash.run(seq_table_from_spans(spark, spans), n_batches=1)  # commit batch 0 only
    store = crash.store
    # simulate the torn batch-1 writes a real crash leaves behind:
    # (a) an uncommitted pending_state epoch with garbage rows
    garbage = spark.createDataFrame(
        [("f" * 32, 0, 0, 99, 0, 0, 1, 1, 0, None, "torn")], schema=PENDING_STATE_SCHEMA
    )
    store.write_epoch("pending_state", 1, garbage)
    # (b) a torn COMPACTION: an uncommitted base snapshot for decision_state
    bogus = spark.createDataFrame(
        [("e" * 32, D.SAMPLED, "ghost", 1)], schema=DECISION_STATE_SCHEMA
    )
    bogus.write.mode("overwrite").parquet(store._base_path("decision_state", 1))
    # marker still points at batch 0 → both torn writes must be invisible
    assert store.last_committed_batch() == 0
    assert "f" * 32 not in {r.doc_id for r in store.read("pending_state", 0).collect()}

    got = _run_all(crash, spark, spans)  # replays batch 1 onward
    assert got == want
    # the ghost decision from the torn compaction must not have survived
    assert all(doc != "e" * 32 for doc, _ in got["decisions"])


@pytest.mark.parametrize("compact_every", [1, 2, 8])
def test_delta_chain_equivalence(spark, tmp_path, compact_every):
    """Same corpus, different compaction cadence ⇒ identical sinks and
    final resolved state (compaction is a pure storage-layout fold)."""
    spans = _spans_multi_batch()
    base = _mk(spark, tmp_path, "base_fullrw", primary_cache_size=6, state_compact_every=1)
    want = _run_all(base, spark, spans)
    if compact_every == 1:
        return  # baseline built above; nothing to compare against itself
    p = _mk(
        spark, tmp_path, f"ce{compact_every}",
        primary_cache_size=6, state_compact_every=compact_every,
    )
    assert _run_all(p, spark, spans) == want


def test_delta_commits_are_delta_sized(spark, tmp_path):
    """50 pending traces; batch 1 touches ONE of them. The pending_state
    commit for batch 1 must hold O(1) rows (the moved row's evict key +
    its re-insert — round 5's epoch layout), while the resolved table
    still has the other 49 — the O(delta)-write property the reference's
    in-place cache puts have natively (lru_cache.go:63-71)."""
    pipe = _mk(spark, tmp_path, "dsize", primary_cache_size=100)
    spans = [dict(doc_id=trace_id(1000 + i), span_id=1, batch_idx=0) for i in range(50)]
    spans.append(dict(doc_id=trace_id(1000), span_id=2, batch_idx=1))  # → sampled
    pipe.run(seq_table_from_spans(spark, spans))
    epoch = spark.read.parquet(pipe.store._epoch_path("pending_state", 1))
    evict = spark.read.parquet(pipe.store._evict_path("pending_state", 1))
    assert epoch.count() + evict.count() <= 2  # move of the sampled trace
    resolved = pipe.store.read("pending_state", 1)
    assert resolved.count() == 49
    assert trace_id(1000) not in {r.doc_id for r in resolved.collect()}


def test_batch_wall_time_metric(spark, tmp_path):
    """chan_blocking_time analogue (documentation.md:17-23): every batch
    emits one batch_wall_time_ms metric row with a positive value."""
    pipe = _mk(spark, tmp_path, "wallm")
    pipe.run(
        seq_table_from_spans(
            spark,
            [
                dict(doc_id=trace_id(500), span_id=1, batch_idx=0),
                dict(doc_id=trace_id(500), span_id=2, batch_idx=1),
            ],
        )
    )
    for b in (0, 1):
        rows = (
            pipe.store.read("metrics", b)
            .filter(F.col("metric") == "batch_wall_time_ms")
            .collect()
        )
        assert len(rows) == 1 and rows[0].value > 0


def test_torn_sink_write_replay(spark, tmp_path):
    """Crash AFTER the routed sink write but BEFORE the commit marker:
    the replay overwrites the uncommitted ``routed/batch=N`` directory,
    so sinks hold each row exactly once (no duplicates from the torn
    attempt) and match the clean run."""
    spans = _spans_multi_batch()
    clean = _mk(spark, tmp_path, "sclean", primary_cache_size=6)
    want = _run_all(clean, spark, spans)

    crash = _mk(spark, tmp_path, "scrash", primary_cache_size=6)
    df = seq_table_from_spans(spark, spans)
    crash.run(df, n_batches=1)
    meta0 = crash.store.last_meta()
    # simulate the torn batch-1 attempt: run it fully, then restore the
    # batch-0 marker + meta (exactly what a pre-commit crash leaves)
    crash.run(df, n_batches=2)
    crash.store.commit(0, meta=meta0)
    got = _run_all(crash, spark, spans)  # replays batch 1 onward
    assert got == want


def test_vacuum_preserves_latest_state(spark, tmp_path):
    """vacuum() removes chain segments shadowed by the newest base but
    never touches anything needed to resolve the committed version —
    the operational GC for long runs (Iceberg expire_snapshots
    analogue)."""
    import os

    spans = _spans_multi_batch()
    # compact_every=2 ⇒ bases exist mid-run, old deltas become shadowed
    pipe = _mk(spark, tmp_path, "vac", primary_cache_size=6, state_compact_every=2)
    want = _run_all(pipe, spark, spans)
    last = pipe.store.last_committed_batch()
    before = sum(len(files) for _, _, files in os.walk(str(tmp_path / "vac" / "ck")))
    for t in ("pending_state", "pending_spans", "decision_state"):
        pipe.store.vacuum(t, last)
    after = sum(len(files) for _, _, files in os.walk(str(tmp_path / "vac" / "ck")))
    assert after < before  # something was actually reclaimed
    # resolved state at the committed version is untouched
    assert sorted(
        r.doc_id for r in pipe.store.read("pending_state", last).collect()
    ) == want["pending"]
    assert sorted(
        (r.doc_id, r.decision) for r in pipe.store.read("decision_state", last).collect()
    ) == want["decisions"]
    # and the pipeline can continue committing on top of the vacuumed chain
    extra = [dict(doc_id=trace_id(399), span_id=90, batch_idx=last + 1),
             dict(doc_id=trace_id(399), span_id=91, batch_idx=last + 1)]
    pipe.run(seq_table_from_spans(spark, spans + extra))
    dec = {r.doc_id for r in pipe.store.read(
        "decision_state", pipe.store.last_committed_batch()).collect()}
    assert trace_id(399) in dec  # new 2-span trace sampled post-vacuum


def test_remote_probabilistic_rate_refresh(spark, tmp_path):
    """Rate getter re-consulted each batch: 100% → sampled, 0% → pending,
    getter exception → default_rate fallback
    (remote_probabilistic.go:77-100)."""
    cell = {"rate": 100.0, "boom": False}

    def getter():
        if cell["boom"]:
            raise RuntimeError("rate provider down")
        return cell["rate"]

    pol = RemoteProbabilistic(name="rp", default_rate=0.0, rate_getter=getter)
    pipe = SamplingPipeline(
        spark, [pol], EngineConfig(),
        checkpoint_dir=str(tmp_path / "rp" / "ck"),
        output_dir=str(tmp_path / "rp" / "out"),
    )
    df = seq_table_from_spans(
        spark,
        [
            dict(doc_id=trace_id(400), span_id=1, batch_idx=0),
            dict(doc_id=trace_id(401), span_id=2, batch_idx=1),
            dict(doc_id=trace_id(402), span_id=3, batch_idx=2),
        ],
    )
    r0 = pipe.run(df, n_batches=1)
    assert r0[0].sampled_traces == 1  # rate 100 → sampled

    cell["rate"] = 0.0
    r1 = pipe.run(df, n_batches=2)
    assert r1[0].sampled_traces == 0  # refreshed rate 0 → pending

    cell["boom"] = True
    r2 = pipe.run(df, n_batches=3)
    assert r2[0].sampled_traces == 0  # error → default_rate (0) fallback
