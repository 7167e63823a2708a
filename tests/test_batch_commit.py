"""The batch commit's fixed cost and its fail-loud guards.

* A batch with compaction due writes the new epoch-partitioned base
  directly (no epoch/evict append read back); a torn, uncommitted base at
  that version stays invisible and the replay converges to a clean run.
* The drift guard fires before the commit marker moves: a corrupted
  committed evmeta count makes the stored epochs yield fewer victims than
  the driver-side plan — for the pending cache and for the decision
  caches' partial evictions alike. A committed version whose evmeta is
  gone fails the next batch the same way, before any write.
* Job-count regression: a tiny trickle-shaped batch (evicting caches,
  compaction every batch, decision spans present) stays under a job
  ceiling, and resolving a state table starts no Spark job (reads are
  schema-bound — a schemaless parquet read starts a schema-inference job).
  Its flush counts the decision export on the export's own write and
  stays under a flush job ceiling.
* Routing: one batch that produces every routed reason assigns each row
  its exact (sink, reason, policy, flushes); the routed write's plan scans
  the arrival slice once, and the per-trace decision plan runs no Python.
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from atlassian_sampling_processor_spark import decision as D
from atlassian_sampling_processor_spark import pipeline as P
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

# the fixed-cost target of a trickle-shaped batch: the measured maximum
# (it was ~65 Spark jobs before schema-bound reads, one counters action
# and direct-to-base compaction, and 26 before one-pass routing)
JOB_CEILING = 24
# flush() of that pipeline: the measured count (7 while the decision
# count was a second pass over decision_state after the export write)
FLUSH_JOB_CEILING = 5


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


@pytest.mark.parametrize("table", ["pending_state", "decision_state"])
def test_missing_evmeta_fails_loudly(spark, tmp_path, table):
    """No evmeta at the committed version: the batch raises instead of
    re-deriving the counts, and writes nothing at the next version."""
    eng_spans, _ = r5._scenario(n_batches=3)
    pipe = r5._mk(spark, tmp_path, "noevmeta")
    pipe.run(seq_table_from_spans(spark, eng_spans), n_batches=2)
    shutil.rmtree(os.path.dirname(pipe.store._evmeta_path(table, 1)))
    with pytest.raises(RuntimeError, match=f"{table}: committed version 1 has no evmeta"):
        pipe.process_batch(_batch(spark, eng_spans, 2), 2)
    assert pipe.store.last_committed_batch() == 1
    for t in ("pending_state", "pending_spans", "decision_state"):
        for layout in ("base", "delta", "epoch", "evict"):
            assert not os.path.exists(os.path.join(pipe.store.dir, t, layout, "v=2"))
    assert not os.path.exists(os.path.join(pipe.store.dir, "metrics", "v=2"))
    assert not os.path.exists(os.path.join(pipe.out, "routed", "batch=2"))


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


@pytest.fixture(scope="module")
def job_run(spark, tmp_path_factory):
    """The trickle-shaped pipeline after three batches, with each batch's
    job count (shared by the job-ceiling and flush tests)."""
    tmp = tmp_path_factory.mktemp("jobs")
    pipe = SamplingPipeline(
        spark,
        parse_policies(r5.POLICIES_ENG),
        EngineConfig(
            primary_cache_size=r5.PRIM_CAP, secondary_cache_size=r5.SEC_CAP,
            sampled_cache_size=2, non_sampled_cache_size=2, state_compact_every=1,
        ),
        checkpoint_dir=str(tmp / "ck"),
        output_dir=str(tmp / "out"),
    )
    sc = spark.sparkContext
    seqs = seq_table_from_spans(spark, _trickle_spans(3))
    counts = []
    for b in range(3):
        res, n = _jobs(sc, f"asp-batch-{b}", lambda: pipe.process_batch(
            seqs.filter(f"batch_idx = {b}"), b))
        counts.append(n)
    return pipe, res, counts


def test_batch_job_count_ceiling(spark, job_run):
    pipe, res, counts = job_run
    assert res.evicted_traces > 0  # the shape really evicts
    assert max(counts) <= JOB_CEILING, counts

    # resolving any state table (epoch base, metrics log, merge chain)
    # plans against the known schema: zero jobs
    sc = spark.sparkContext
    for table in TABLES:
        df, n = _jobs(sc, f"asp-read-{table}", lambda: pipe.store.read(table, 2))
        assert n == 0, table
        assert df.columns


def test_flush_exports_decisions_in_one_pass(spark, job_run):
    """flush()'s decision count rides the export write: it equals the
    exported rows, and flush stays under its job ceiling."""
    pipe, _, _ = job_run
    out, n = _jobs(spark.sparkContext, "asp-flush", pipe.flush)
    exported = spark.read.parquet(f"{pipe.out}/decision_export/batch=3").count()
    assert out["decision_rows"] == exported > 0
    assert n <= FLUSH_JOB_CEILING, n


ROUTE_POLICIES = [
    {
        "name": "down",
        "type": "downgrader",
        "emit_single_span_for_not_sampled": True,
        "downgrader": {
            "downgrade_to": "NotSampled",
            "sub_policy": {"name": "s4", "type": "span_count", "span_count": {"min_spans": 4}},
        },
    },
    {"name": "sc", "type": "span_count", "span_count": {"min_spans": 3}},
    {
        "name": "rs",
        "type": "root_spans",
        "root_spans": {
            "sub_policy": {
                "name": "prob", "type": "probabilistic",
                "probabilistic": {"sampling_percentage": 0},
            }
        },
    },
]

# traces of the routing scenario (doc_id order matters for eviction: the
# lowest doc_id of an over-capacity epoch is evicted first)
T = {
    name: trace_id(7000 + i)
    for i, name in enumerate([
        "evp", "evs", "late_s", "late_ns", "s", "ns", "sc", "nsc", "dsr", "dsd",
        "bad", "p1", "p2", "p3", "p4", "sec",
    ])
}


def _routing_scenario(spark):
    """Batch 0 decides late_s (3 spans → sc) and late_ns (4 spans → down)
    and leaves sc/nsc/dsr/dsd pending (primary cap 4, full). Batch 1 is
    the checked batch; the input's own ``flushes`` column (99, 8) is
    ignored for decodable rows (the header slot wins) and kept for the
    undecodable one."""
    sid = 0
    spans = []

    def add(doc, b, n=1, **kw):
        nonlocal sid
        for _ in range(n):
            sid += 1
            spans.append(dict(doc_id=T[doc], span_id=sid, parent_span_id=7, batch_idx=b, **kw))

    add("late_s", 0, 3)
    add("late_ns", 0, 4)
    add("sc", 0, flushes=1)
    add("nsc", 0, flushes=2)
    add("dsr", 0, flushes=3)
    add("dsd", 0, flushes=4)
    add("late_s", 1, flushes=5)
    add("late_ns", 1, flushes=6)
    add("s", 1, 3)
    add("ns", 1, 3)
    add("ns", 1, flushes=7)
    add("sc", 1, 2)  # 3 spans → sampled by sc
    add("nsc", 1, 3)  # 4 spans → not sampled by down
    add("dsr", 1, is_decision_span=1, decision_value=1)
    add("dsd", 1, is_decision_span=1, decision_value=0)
    # epoch 1 holds 5 primaries (cap 4): evp, the lowest doc_id, is evicted
    add("evp", 1, flushes=9)
    for p in ("p1", "p2", "p3", "p4"):
        add(p, 1)
    # two lone roots (secondary, cap 1): evs is evicted
    sid += 1
    spans.append(dict(doc_id=T["evs"], span_id=sid, batch_idx=1, flushes=10))
    sid += 1
    spans.append(dict(doc_id=T["sec"], span_id=sid, batch_idx=1))
    seqs = seq_table_from_spans(spark, spans).withColumn("flushes", F.lit(99))
    bad = spark.createDataFrame(
        [(T["bad"], [1, 2, 3], 3, "svc", 1, 8)], schema=seqs.schema
    )
    return seqs.unionByName(bad)


def _route_pipe(spark, tmp_path):
    return SamplingPipeline(
        spark,
        parse_policies(ROUTE_POLICIES),
        EngineConfig(primary_cache_size=4, secondary_cache_size=1),
        checkpoint_dir=str(tmp_path / "route" / "ck"),
        output_dir=str(tmp_path / "route" / "out"),
    )


def test_every_routed_reason_exact_row(spark, tmp_path):
    pipe = _route_pipe(spark, tmp_path)
    seqs = _routing_scenario(spark)
    pipe.run(seqs)
    got = sorted(
        [(r.doc_id, r.sink, r.reason, r.policy, r.flushes)
         for r in spark.read.parquet(f"{pipe.out}/routed/batch=1").collect()],
        key=str,
    )
    ev, ds = P.EVICTION_POLICY, P.DECISION_SPAN_POLICY
    want = sorted(
        [(T["late_s"], "keep", "late_sampled", None, None),
         (T["late_ns"], "drop", "late_not_sampled", None, 6)]
        + [(T["s"], "keep", "sampled", "sc", None)] * 3
        + [(T["ns"], "drop", "not_sampled", "down", None)] * 3
        + [(T["ns"], "drop", "not_sampled", "down", 7),
           (T["ns"], "keep", "not_sampled_placeholder", "down", None),
           (T["bad"], "drop", "internal_error", None, 8)]
        + [(T["sc"], "keep", "sampled", "sc", None)] * 2
        + [(T["sc"], "keep", "sampled_cached", "sc", None)]
        + [(T["nsc"], "drop", "not_sampled", "down", None)] * 3
        + [(T["nsc"], "drop", "not_sampled_cached", "down", 2),
           (T["nsc"], "keep", "not_sampled_placeholder", "down", None),
           (T["dsr"], "keep", "decision_span_release", ds, None),
           (T["dsd"], "drop", "decision_span_drop", ds, 4),
           (T["evp"], "drop", "evicted_primary", ev, 9),
           (T["evs"], "low_priority", "evicted_secondary", ev, 10)],
        key=str,
    )
    assert got == want
    # the still-pending arrivals became pending payload, nothing else did
    pending = {r.doc_id for r in pipe.store.read("pending_spans", 1).collect()}
    assert pending == {T[p] for p in ("p1", "p2", "p3", "p4", "sec")}


def _file_scans(df) -> list[str]:
    """Root path of every file relation the optimized plan reads, once
    per scan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRelation":
            roots = leaf.relation().location().rootPaths()
            out += [roots.apply(j).toUri().getPath() for j in range(roots.size())]
    return out


def test_routed_plan_scans_arrivals_once_and_runs_no_python(spark, tmp_path, monkeypatch):
    """The routed write reads the arrival slice in one scan (the late,
    evaluated, evicted-on-arrival and undecodable spans share one frame),
    and the per-trace decision frame — probabilistic hash included — has
    no Python evaluation node."""
    arrivals = str(tmp_path / "arrivals")
    _routing_scenario(spark).write.parquet(arrivals)
    seqs = spark.read.parquet(arrivals)
    pipe = _route_pipe(spark, tmp_path)
    plans, checkpointed = [], []
    write_routed = P.SamplingPipeline._write_routed
    checkpoint = P._checkpoint

    def spy_routed(self, batch, df):
        plans.append(_file_scans(df))
        return write_routed(self, batch, df)

    def spy_checkpoint(df):
        checkpointed.append(df)
        return checkpoint(df)

    monkeypatch.setattr(P.SamplingPipeline, "_write_routed", spy_routed)
    monkeypatch.setattr(P, "_checkpoint", spy_checkpoint)
    pipe.run(seqs)
    assert len(plans) == 2
    for scans in plans:
        assert scans.count(arrivals) == 1, scans
    decided = [df for df in checkpointed if "policy_decisions" in df.columns]
    assert len(decided) == 2
    for df in decided:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
