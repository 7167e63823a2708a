"""Tests for the benchmark's own logic: order statistics, self time from
nested spans, and the correctness gate on a tiny pipeline run.

    python -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
for p in (BENCH, os.path.dirname(BENCH)):
    if p not in sys.path:
        sys.path.insert(0, p)

import stats  # noqa: E402
from tracing import Span, self_times  # noqa: E402


def test_median_and_percentile():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([1.0, 2.0, 3.0, 10.0]) == 2.5
    assert stats.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 50) == 3.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 75) == 4.0
    assert stats.percentile([0.0, 10.0], 90) == pytest.approx(9.0)
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.median([])


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
     (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_supported_percentile_needs_ten_samples_beyond(n, want):
    assert stats.supported_percentile(n) == want


def test_union_and_covered_length():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10), (2, 3)]) == 10
    assert stats.covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert stats.covered([], 0, 1) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "batch", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),  # overlaps a (pool thread)
        Span(3, "a.child", 2.0, 3.0, parent=1),
        Span(4, "late", 9.0, 12.0, parent=0),  # outlives its parent
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(1.0)
    assert own[4] == pytest.approx(3.0)


# ---------------------------------------------------------------- the gate


@pytest.fixture(scope="module")
def tiny_run(tmp_path_factory):
    """A flushed two-batch pipeline run on a tiny corpus."""
    from pyspark.sql import functions as F

    from atlassian_sampling_processor_spark import datagen
    from atlassian_sampling_processor_spark.config import EngineConfig, parse_policies
    from atlassian_sampling_processor_spark.pipeline import SamplingPipeline
    from atlassian_sampling_processor_spark.session import get_spark

    import workloads

    d = tmp_path_factory.mktemp("gate")
    corpus = datagen.generate_sequences_parquet(
        str(d / "seq.parquet"), n_traces=300, seed=5, n_batches=2, decision_span_frac=0.02
    )
    spark = get_spark(
        app_name="perfbench-tests", cores=2, shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "1g"},
    )
    pipe = SamplingPipeline(
        spark,
        parse_policies(workloads.NUMERIC_POLICIES),
        EngineConfig(primary_cache_size=40, secondary_cache_size=5, shards=2),
        checkpoint_dir=str(d / "ckpt"),
        output_dir=str(d / "out"),
    )
    seqs = spark.read.parquet(corpus)
    pipe.run(seqs)
    pipe.flush()
    routed = spark.read.parquet(str(d / "out" / "routed"))
    # a deterministic ordinary routed row to drop or duplicate
    one = (
        routed.filter(F.col("reason") != "not_sampled_placeholder")
        .orderBy("doc_id", F.xxhash64("tokens"))
        .limit(1)
    )
    return seqs, routed, one


def _check(seqs, routed, golden=None):
    import gate

    return gate.check(seqs, routed, golden, [0, 1])


def test_gate_passes_on_the_real_pipeline(tiny_run):
    seqs, routed, _ = tiny_run
    res = _check(seqs, routed)
    assert res.ok, res.detail
    golden = {str(b): c for b, c in res.counts.items() if b in (0, 1)}
    again = _check(seqs, routed, golden)
    assert again.ok and again.failed_batches() == []


def test_gate_fails_on_a_dropped_routed_row(tiny_run):
    seqs, routed, one = tiny_run
    res = _check(seqs, routed.exceptAll(one))
    assert not res.ok and not res.multiset_ok
    assert res.failed_batches() == [0, 1]


def test_gate_fails_on_a_duplicated_routed_row(tiny_run):
    seqs, routed, one = tiny_run
    res = _check(seqs, routed.unionByName(one))
    assert not res.ok and not res.multiset_ok


def test_gate_fails_when_a_decision_span_reaches_a_sink(tiny_run):
    import gate

    seqs, routed, one = tiny_run
    dec = seqs.filter(gate.is_decision_span()).limit(1)
    assert dec.count() == 1
    leaked = one.drop("doc_id", "tokens").crossJoin(dec.select("doc_id", "tokens"))
    res = _check(seqs, routed.unionByName(leaked))
    assert not res.no_decision_spans


def test_gate_fails_a_batch_whose_counts_differ_from_golden(tiny_run):
    seqs, routed, _ = tiny_run
    counts = _check(seqs, routed).counts
    golden = {str(b): dict(c) for b, c in counts.items() if b in (0, 1)}
    key = next(iter(golden["1"]))
    golden["1"][key] += 1
    res = _check(seqs, routed, golden)
    assert res.multiset_ok and res.failed_batches() == [1]
