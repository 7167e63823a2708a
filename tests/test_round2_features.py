"""Round-2 feature tests: two-level eviction rank, nop decision cache,
internal-error span handling, flush-attr strip, eviction-time metrics.

Reference parity sources: lru_cache.go:94-99 (rank), nop_cache.go:11-40,
processor.go:676-680 (internal errors), processor.go:497-503 (flush-attr
strip on sampled forward), processor.go:653-674 (eviction time gauges).
"""

import shutil

import pytest
from pyspark.sql import functions as F

from atlassian_sampling_processor_spark import decision as D
from atlassian_sampling_processor_spark.config import EngineConfig, parse_policies
from atlassian_sampling_processor_spark.functions.topk import ranked_in_group
from atlassian_sampling_processor_spark.pipeline import SamplingPipeline

from .helpers import seq_table_from_spans, trace_id


@pytest.fixture
def tmp_dirs(tmp_path):
    ck = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    yield ck, out
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def make_pipe(spark, policies, tmp_dirs, **eng):
    ck, out = tmp_dirs
    return SamplingPipeline(
        spark, parse_policies(policies), EngineConfig(**eng),
        checkpoint_dir=ck, output_dir=out,
    )


SPAN_COUNT_2 = [{"name": "sc2", "type": "span_count", "span_count": {"min_spans": 2}}]
NEVER = [{"name": "never", "type": "probabilistic", "probabilistic": {"sampling_percentage": 0}}]


# --- two-level rank -----------------------------------------------------------


def test_two_level_rank_identical(spark):
    """ranked_in_group two_level=True must assign bit-identical ranks to
    the single-task window plan (total order via the unique id column)."""
    import random

    rng = random.Random(7)
    rows = [
        (f"g{rng.randint(0, 2)}", rng.randint(0, 5), rng.randint(0, 3), f"id{i:04d}")
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "tier string, recency int, arrival int, doc_id string")
    order = [F.desc("recency"), F.desc("arrival"), F.desc("doc_id")]
    one = {(r.tier, r.doc_id): r.rn for r in ranked_in_group(df, "tier", order, False).collect()}
    two = {(r.tier, r.doc_id): r.rn for r in ranked_in_group(df, "tier", order, True).collect()}
    assert one == two and len(one) == 500


def test_two_level_eviction_identical_pipeline(spark, tmp_dirs, tmp_path):
    """Same evicting corpus through two fresh pipelines → identical
    evictions, sinks and surviving state (the eviction plan is
    deterministic driver arithmetic)."""
    spans = [dict(doc_id=trace_id(900 + i), span_id=i, batch_idx=i) for i in range(4)]

    def run(sub):
        ck, out = str(tmp_path / f"ck{sub}"), str(tmp_path / f"out{sub}")
        pipe = SamplingPipeline(
            spark, parse_policies(NEVER), EngineConfig(primary_cache_size=2),
            checkpoint_dir=ck, output_dir=out,
        )
        res = pipe.run(seq_table_from_spans(spark, spans))
        st = sorted(r.doc_id for r in pipe.store.read("pending_state", 3).collect())
        drops = sorted(
            (r.doc_id, r.reason) for r in pipe.read_sink("drop").collect()
        )
        return [x.evicted_traces for x in res], st, drops

    assert run("a") == run("b")


# --- nop decision cache (nop_cache.go:11-40) -----------------------------------


def test_nop_decision_cache_reevaluates(spark, tmp_dirs):
    """With both decision caches at capacity 0, decisions are never
    remembered: a trace sampled in batch 0 is NOT short-circuited when
    more of its spans arrive in batch 1 — they re-evaluate from scratch."""
    pipe = make_pipe(
        spark, SPAN_COUNT_2, tmp_dirs, sampled_cache_size=0, non_sampled_cache_size=0
    )
    t = trace_id(60)
    r = pipe.run(seq_table_from_spans(spark, [
        dict(doc_id=t, span_id=1, batch_idx=0),
        dict(doc_id=t, span_id=2, batch_idx=0),  # sampled: span_count 2
        dict(doc_id=t, span_id=3, batch_idx=1),  # would be late_sampled with a cache
    ]))
    assert r[0].sampled_traces == 1
    # nothing cached
    assert pipe.store.read("decision_state", 0).count() == 0
    assert pipe.store.read("decision_state", 1).count() == 0
    keep = pipe.read_sink("keep")
    assert keep.filter("reason = 'late_sampled'").count() == 0
    # batch-1 span re-evaluated: alone it's 1 span → Pending again
    assert r[1].sampled_traces == 0 and r[1].pending_traces == 1


# --- internal errors (processor.go:676-680) -------------------------------------


def test_internal_error_dropped_spans(spark, tmp_dirs):
    pipe = make_pipe(spark, SPAN_COUNT_2, tmp_dirs)
    good = seq_table_from_spans(spark, [
        dict(doc_id=trace_id(61), span_id=1, batch_idx=0),
        dict(doc_id=trace_id(61), span_id=2, batch_idx=0),
    ])
    bad = spark.createDataFrame(
        [("corrupt-doc", [1, 2, 3], 3, "svc", 0)],
        "doc_id string, tokens array<int>, n_tok int, source string, batch_idx int",
    )
    r = pipe.run(good.unionByName(bad, allowMissingColumns=True))
    # the corrupt row lands in the drop sink with reason=internal_error
    drop = pipe.read_sink("drop").filter("reason = 'internal_error'").collect()
    assert len(drop) == 1 and drop[0].doc_id == "corrupt-doc"
    # metric emitted; the good trace is unaffected
    m = pipe.store.read("metrics", 0).filter("metric = 'internal_error_dropped_spans'")
    assert m.collect()[0].value == 1
    assert r[0].sampled_traces == 1 and r[0].kept == 2


# --- flush-attr strip on sampled forward (processor.go:497-503) -----------------


def test_flushes_attr_stripped_on_keep(spark, tmp_dirs):
    pipe = make_pipe(spark, SPAN_COUNT_2, tmp_dirs)
    t = trace_id(62)
    pipe.run(seq_table_from_spans(spark, [
        dict(doc_id=t, span_id=1, batch_idx=0, flushes=3),  # re-ingested flushed data
        dict(doc_id=t, span_id=2, batch_idx=0, flushes=3),
    ]))
    kept = pipe.read_sink("keep").collect()
    assert len(kept) == 2
    assert all(r.flushes is None for r in kept)  # attr removed on forward
    # but the shutdown flush path keeps + increments it
    t2 = trace_id(63)
    pipe.run(seq_table_from_spans(spark, [dict(doc_id=t2, span_id=9, batch_idx=1, flushes=3)]))
    pipe.flush()
    flushed = pipe.read_sink("keep").filter("reason = 'flush'").collect()
    assert len(flushed) == 1 and flushed[0].flushes_out == 4


# --- eviction time gauges (processor.go:653-674) --------------------------------


def test_trace_eviction_time_metric(spark, tmp_dirs):
    pipe = make_pipe(spark, NEVER, tmp_dirs, primary_cache_size=2)
    pipe.run(seq_table_from_spans(
        spark, [dict(doc_id=trace_id(70 + i), span_id=i, batch_idx=i) for i in range(3)]
    ))
    # batch 2 evicts the batch-0 trace: age = 2 batches
    m = pipe.store.read("metrics", 2).filter("metric = 'trace_eviction_time'").collect()
    assert len(m) == 1
    assert m[0].labels["cache"] == "primary" and m[0].value == 2


def test_decision_eviction_time_metric(spark, tmp_dirs):
    pipe = make_pipe(
        spark, SPAN_COUNT_2, tmp_dirs, sampled_cache_size=1, non_sampled_cache_size=10
    )
    spans = []
    for i in range(3):  # three sampled traces, cache holds one
        spans += [
            dict(doc_id=trace_id(80 + i), span_id=1, batch_idx=i),
            dict(doc_id=trace_id(80 + i), span_id=2, batch_idx=i),
        ]
    pipe.run(seq_table_from_spans(spark, spans))
    rows = []
    for b in (1, 2):
        rows += pipe.store.read("metrics", b).filter(
            "metric = 'decision_eviction_time'"
        ).collect()
    assert rows, "expected decision_eviction_time rows on overflow batches"
    assert all(r.labels["decision"] == "Sampled" for r in rows)
