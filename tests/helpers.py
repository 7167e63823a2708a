"""Fixture builders: hand-written span lists → sequences DataFrames
(token-encoded, same codec as datagen)."""

from __future__ import annotations

import numpy as np

from atlassian_sampling_processor_spark import codec, datagen


def seq_table_from_spans(spark, spans: list[dict]):
    """spans: dicts with doc_id (32-hex str) and optional span fields."""
    n = len(spans)

    def u64(x):
        return np.uint64(x & ((1 << 64) - 1))

    def col(key, default, dtype):
        return np.array([s.get(key, default) for s in spans], dtype=dtype)

    hi = np.array([u64(int(s["doc_id"][:16], 16)) for s in spans], dtype=np.uint64)
    lo = np.array([u64(int(s["doc_id"][16:], 16)) for s in spans], dtype=np.uint64)

    cols = {
        "trace_hi": hi,
        "trace_lo": lo,
        "span_id": col("span_id", 1, np.int64).astype(np.uint64),
        "parent_span_id": col("parent_span_id", 0, np.int64).astype(np.uint64),
        "start_ts": col("start_ts", datagen.BASE_NS, np.int64).astype(np.uint64),
        "end_ts": col("end_ts", datagen.BASE_NS + 10**6, np.int64).astype(np.uint64),
        "status_id": col("status", 0, np.int32),
        "threshold_len": col("threshold_len", 0, np.int32),
        "threshold_value": col("threshold_value", 0, np.int64).astype(np.uint64),
        "name_id": col("name_id", 0, np.int32),
        "is_decision_span": col("is_decision_span", 0, np.int32),
        "decision_value": col("decision_value", 0, np.int32),
        "flushes": col("flushes", -1, np.int32),
        "event_name_id": col("event_name_id", -1, np.int32),
        "attr_code": col("attr_code", 0, np.int32),
        "source_id": col("source_id", 0, np.int32),
        "event_attr_code": col("event_attr_code", -1, np.int32),
        "batch_idx": col("batch_idx", 0, np.int32),
        "n_filler": col("n_filler", 3, np.int32),
        "rng_filler_seed": np.full(n, 42, dtype=np.int64),
    }
    tbl = datagen.build_sequences_table(cols)
    return spark.createDataFrame(tbl.to_pandas())


def trace_id(i: int) -> str:
    """Deterministic distinct 32-hex trace ids for fixtures."""
    return f"{i:032x}"
