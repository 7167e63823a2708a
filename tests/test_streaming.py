"""Structured Streaming front-end parity: the same corpus fed through
the file-source stream produces byte-identical sinks to the batch
driver loop (the reference's streaming semantics replayed two ways)."""

import os

from atlassian_sampling_processor_spark.config import EngineConfig, parse_policies
from atlassian_sampling_processor_spark.pipeline import SamplingPipeline
from atlassian_sampling_processor_spark.streaming import run_streaming, stream_sequences

from .helpers import seq_table_from_spans, trace_id

SP2 = [{"name": "sc2", "type": "span_count", "span_count": {"min_spans": 2}}]


def _spans():
    out = []
    for i in range(30):
        t = trace_id(200 + i % 9)
        out.append(dict(doc_id=t, span_id=i + 1, batch_idx=i % 3))
    return out


def test_streaming_matches_batch(spark, tmp_path):
    spans = _spans()
    df = seq_table_from_spans(spark, spans)

    # batch engine
    pipe_b = SamplingPipeline(
        spark, parse_policies(SP2), EngineConfig(),
        checkpoint_dir=str(tmp_path / "ck_b"), output_dir=str(tmp_path / "out_b"),
    )
    pipe_b.run(df)

    # streaming engine: one file per arrival batch, maxFilesPerTrigger=1
    stream_in = str(tmp_path / "stream_in")
    os.makedirs(stream_in)
    for b in range(3):
        df.filter(f"batch_idx = {b}").coalesce(1).write.mode("overwrite").parquet(
            f"{stream_in}/b{b}.parquet"
        )
    # flatten: file source wants files (dirs of parquet work as globs)
    pipe_s = SamplingPipeline(
        spark, parse_policies(SP2), EngineConfig(),
        checkpoint_dir=str(tmp_path / "ck_s"), output_dir=str(tmp_path / "out_s"),
    )
    stream = stream_sequences(spark, f"{stream_in}/*", max_files_per_trigger=1)
    run_streaming(pipe_s, stream)

    def routed_set(pipe):
        rows = []
        for sink in ("keep", "drop", "low_priority"):
            for r in pipe.read_sink(sink).collect():
                rows.append((sink, r.doc_id, tuple(r.tokens) if r.tokens else None, r.reason))
        return sorted(rows)

    got_b, got_s = routed_set(pipe_b), routed_set(pipe_s)
    assert len(got_b) > 0
    # file order ≠ batch_idx order isn't guaranteed; compare as sets of
    # (sink, doc, tokens) — routing decisions must agree
    assert sorted(x[:3] for x in got_b) == sorted(x[:3] for x in got_s)

