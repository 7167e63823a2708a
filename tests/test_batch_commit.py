"""The batch commit's fixed cost and its fail-loud guards.

* A batch with compaction due writes the new epoch-partitioned base
  directly (no epoch/evict append read back); a torn, uncommitted base at
  that version stays invisible and the replay converges to a clean run.
* The drift guard fires before the commit marker moves: a corrupted
  committed evmeta count makes the stored epochs yield fewer victims than
  the driver-side plan — for the pending cache and for the decision
  caches' partial evictions alike.
* Job-count regression: a tiny trickle-shaped batch (evicting caches,
  compaction every batch, decision spans present) stays under a job
  ceiling, and resolving a state table starts no Spark job (reads are
  schema-bound — a schemaless parquet read starts a schema-inference job).
"""

import json

import pytest

from atlassian_sampling_processor_spark import decision as D
from atlassian_sampling_processor_spark.config import EngineConfig, parse_policies
from atlassian_sampling_processor_spark.pipeline import SamplingPipeline
from atlassian_sampling_processor_spark.state import (
    DECISION_STATE_SCHEMA,
    PENDING_STATE_SCHEMA,
    TABLES,
)

from . import test_round4_epochs as r4
from . import test_round5_pending_epochs as r5
from .helpers import seq_table_from_spans, trace_id

# the fixed-cost target of a trickle-shaped batch (it was ~65 Spark jobs
# before schema-bound reads, one counters action and direct-to-base
# compaction)
JOB_CEILING = 30


def _pending(store, v):
    return {
        (r.doc_id, r.arrival_batch, r.last_seen_batch, r.priority)
        for r in store.read("pending_state", v, PENDING_STATE_SCHEMA).collect()
    }


def _decisions(store, v):
    return {
        (r.doc_id, r.decision, r.decided_batch)
        for r in store.read("decision_state", v, DECISION_STATE_SCHEMA).collect()
    }


def test_torn_compaction_write_resume(spark, tmp_path):
    """Compaction every batch: a crash after writing garbage bases at v=4
    (both epoch tables) but before the commit marker leaves v=3 intact,
    and the replay overwrites the bases, converging to the clean run."""
    eng_spans, _ = r5._scenario(n_batches=5)
    kw = dict(state_compact_every=1, sampled_cache_size=4, non_sampled_cache_size=4)
    clean = r5._mk(spark, tmp_path, "clean", **kw)
    clean.run(seq_table_from_spans(spark, eng_spans))

    crash = r5._mk(spark, tmp_path, "crash", **kw)
    df = seq_table_from_spans(spark, eng_spans)
    crash.run(df, n_batches=4)  # commit through batch 3
    store = crash.store
    want3 = (_pending(store, 3), _decisions(store, 3))
    garbage_p = spark.createDataFrame(
        [("f" * 32, 0, 0, 9, 0, 0, 4, 4, D.PRIORITY_UNSPECIFIED, None, "torn")],
        schema=PENDING_STATE_SCHEMA,
    )
    garbage_d = spark.createDataFrame(
        [("e" * 32, D.SAMPLED, "torn", 4)], schema=DECISION_STATE_SCHEMA
    )
    store.compact_epochs("pending_state", 4, garbage_p)
    store.compact_epochs("decision_state", 4, garbage_d)
    store.write_evmeta("pending_state", 4, {"wm": {"primary": 99}, "counts": {}})
    assert store.last_committed_batch() == 3
    assert (_pending(store, 3), _decisions(store, 3)) == want3

    crash.run(df)  # replays batch 4
    assert _pending(crash.store, 4) == _pending(clean.store, 4)
    assert _decisions(crash.store, 4) == _decisions(clean.store, 4)
    assert r5._routed(crash) == r5._routed(clean)
    assert "f" * 32 not in {d for d, *_ in _pending(crash.store, 4)}
    assert "e" * 32 not in {d for d, *_ in _decisions(crash.store, 4)}


def _corrupt_counts(store, table, v, n):
    """Overwrite the committed evmeta at v: one live epoch (v) claiming
    ``n`` rows of every kind, watermarks kept."""
    path = store._evmeta_path(table, v)
    with open(path) as f:
        em = json.load(f)
    em["counts"] = {str(v): [n, n]}
    with open(path, "w") as f:
        json.dump(em, f)


def _batch(spark, spans, b):
    return seq_table_from_spans(spark, [s for s in spans if s["batch_idx"] == b])


def test_pending_drift_guard_raises_before_commit(spark, tmp_path):
    eng_spans, _ = r5._scenario(n_batches=4)
    pipe = r5._mk(spark, tmp_path, "pdrift")
    pipe.run(seq_table_from_spans(spark, eng_spans), n_batches=3)
    _corrupt_counts(pipe.store, "pending_state", 2, 1000)
    with pytest.raises(RuntimeError, match="pending epoch-count drift"):
        pipe.process_batch(_batch(spark, eng_spans, 3), 3)
    assert pipe.store.last_committed_batch() == 2


def test_decision_drift_guard_raises_before_commit(spark, tmp_path):
    """The boundary-epoch partial eviction of the decision caches must
    yield exactly the planned Σk victims (rows for decision_state's
    evict keys); fewer stored rows than planned fails the batch. Batch 3
    brings one new decision, fewer than either cache's capacity, so the
    inflated epoch 2 is the boundary epoch of a partial eviction (a
    whole-epoch eviction is a watermark advance that reads no rows)."""
    eng_spans, _ = r4._scenario(n_batches=3)
    pipe = r4._mk(spark, tmp_path, "ddrift")
    pipe.run(seq_table_from_spans(spark, eng_spans))
    _corrupt_counts(pipe.store, "decision_state", 2, 1000)
    one = [dict(doc_id=trace_id(7777), span_id=1, status=2, batch_idx=3)]
    with pytest.raises(RuntimeError, match="decision epoch-count drift"):
        pipe.process_batch(seq_table_from_spans(spark, one), 3)
    assert pipe.store.last_committed_batch() == 2


def _r5_prim(batch, i):
    return trace_id(8000 + batch * 20 + i)


def _trickle_spans(n_batches):
    """round-5 pending pressure plus decision spans: per batch one for a
    fresh trace and one for a trace still pending from the batch before
    (an epoch move through the ingest path)."""
    spans, _ = r5._scenario(n_batches=n_batches)
    sid = 10_000
    for b in range(n_batches):
        docs = [trace_id(9900 + b)] + ([_r5_prim(b - 1, 3)] if b else [])
        for doc in docs:
            sid += 1
            spans.append(dict(doc_id=doc, span_id=sid, batch_idx=b,
                              is_decision_span=1, decision_value=1))
    return spans


def _jobs(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_batch_job_count_ceiling(spark, tmp_path):
    spans = _trickle_spans(3)
    pipe = SamplingPipeline(
        spark,
        parse_policies(r5.POLICIES_ENG),
        EngineConfig(
            primary_cache_size=r5.PRIM_CAP, secondary_cache_size=r5.SEC_CAP,
            sampled_cache_size=2, non_sampled_cache_size=2, state_compact_every=1,
        ),
        checkpoint_dir=str(tmp_path / "jobs" / "ck"),
        output_dir=str(tmp_path / "jobs" / "out"),
    )
    sc = spark.sparkContext
    seqs = seq_table_from_spans(spark, spans)
    counts = []
    for b in range(3):
        res, n = _jobs(sc, f"asp-batch-{b}", lambda: pipe.process_batch(
            seqs.filter(f"batch_idx = {b}"), b))
        counts.append(n)
    assert res.evicted_traces > 0  # the shape really evicts
    assert max(counts) <= JOB_CEILING, counts

    # resolving any state table (epoch base, legacy log, merge chain)
    # plans against the known schema: zero jobs
    for table in TABLES:
        df, n = _jobs(sc, f"asp-read-{table}", lambda: pipe.store.read(table, 2))
        assert n == 0, table
        assert df.columns
