"""``run_pipeline.main`` end to end: a tiny parquet corpus and a YAML
config in, the per-batch results out as one JSON line. The shutdown
flush runs exactly when the YAML sets ``flush_on_shutdown``."""

import json

import pytest

import run_pipeline

from .helpers import seq_table_from_spans, trace_id

CONFIG = """
max_traces: 100
secondary_cache_size: 10
flush_on_shutdown: {flush}
sampling_policies:
  - name: sc2
    type: span_count
    span_count: {{ min_spans: 2 }}
"""


@pytest.mark.parametrize("flush", [True, False])
def test_main_routes_batches_and_flushes_on_config(spark, tmp_path, capsys, flush):
    spans = [
        # batch 0: a sampled 2-span trace and a pending 1-span trace
        dict(doc_id=trace_id(1), span_id=1, batch_idx=0),
        dict(doc_id=trace_id(1), span_id=2, batch_idx=0),
        dict(doc_id=trace_id(2), span_id=1, batch_idx=0),
        # batch 1: the same again with new traces
        dict(doc_id=trace_id(3), span_id=1, batch_idx=1),
        dict(doc_id=trace_id(3), span_id=2, batch_idx=1),
        dict(doc_id=trace_id(4), span_id=1, batch_idx=1),
    ]
    corpus = str(tmp_path / "seq")
    seq_table_from_spans(spark, spans).write.parquet(corpus)
    cfg = tmp_path / "sampling.yml"
    cfg.write_text(CONFIG.format(flush=str(flush).lower()))

    rc = run_pipeline.main([
        "--input", corpus, "--config", str(cfg),
        "--checkpoint", str(tmp_path / "ck"), "--output", str(tmp_path / "out"),
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = [
        (r["batch_idx"], r["kept"], r["dropped"], r["sampled_traces"], r["pending_traces"])
        for r in out["batches"]
    ]
    assert got == [(0, 2, 0, 1, 1), (1, 2, 0, 1, 2)]
    assert (out["kept"], out["dropped"]) == (4, 0)
    if flush:
        # the two pending single spans leave as flushed rows; both sampled
        # decisions are exported
        assert out["flush"] == {"flushed_rows": 2, "decision_rows": 2}
    else:
        assert "flush" not in out
