"""Deterministic synthetic generator for the tokenized-sequence corpus.

Produces the ``input_hint`` table ``(doc_id, tokens, n_tok, source)``
(+ ``batch_idx`` for multi-batch pipeline tests — the canonical 4-column
view is a ``.select`` away). One row per span; rows of one trace share a
``doc_id``. Everything is seeded (default seed=42); no wall clock.

Scale knobs are per-trace so the same generator serves unit fixtures
(dozens of traces) and the bench corpus (millions of spans). ``source``
is Zipf-skewed to exercise two-phase salted aggregation (FIXTURES.md §1).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import codec

BASE_NS = 1_700_000_000_000_000_000  # fixed epoch base (ns), no wall clock


def generate_span_arrays(
    n_traces: int,
    seed: int = 42,
    mean_spans: float = 4.0,
    n_batches: int = 4,
    filler_tokens: int = 24,
    threshold_frac: float = 0.3,
    error_frac: float = 0.08,
    decision_span_frac: float = 0.0,
    hot_trace_frac: float = 0.0,
    spill_wrap: bool = False,
) -> dict[str, np.ndarray]:
    """Generate span-level numpy columns for ``n_traces`` traces."""
    rng = np.random.default_rng(seed)

    # ~20% lone-root traces (the reference's "early garbage" the
    # root_spans policy demotes to the secondary tier, README.md:22-26);
    # the rest 2+ spans, geometric tail
    spans_per_trace = 1 + rng.geometric(p=min(0.999, 1.0 / mean_spans), size=n_traces)
    spans_per_trace[rng.random(n_traces) < 0.2] = 1
    n = int(spans_per_trace.sum())
    trace_idx = np.repeat(np.arange(n_traces), spans_per_trace)

    trace_hi = rng.integers(0, 1 << 63, size=n_traces, dtype=np.int64).astype(np.uint64)
    trace_lo = rng.integers(0, 1 << 63, size=n_traces, dtype=np.int64).astype(np.uint64)
    # ensure non-zero ids
    trace_hi[trace_hi == 0] = 1
    trace_lo[trace_lo == 0] = 1

    span_id = rng.integers(1, 1 << 62, size=n, dtype=np.int64).astype(np.uint64)

    # first span of each trace is the root (parent = 0); others parent to
    # the right-8-bytes of the trace id half the time (root_spans.go:86-88
    # treats parent == last-8-bytes-of-trace-id as a root too) else to a
    # random span id.
    first_of_trace = np.zeros(n, dtype=bool)
    first_of_trace[np.cumsum(spans_per_trace) - spans_per_trace] = True
    parent = rng.integers(1, 1 << 62, size=n, dtype=np.int64).astype(np.uint64)
    self_parent = rng.random(n) < 0.05
    parent[self_parent] = trace_lo[trace_idx][self_parent]
    parent[first_of_trace] = 0

    start = (BASE_NS + rng.integers(0, 10**9 * 3600, size=n, dtype=np.int64)).astype(np.uint64)
    dur_ms = rng.exponential(scale=120.0, size=n)  # mean 120ms, heavy tail
    dur_ms = np.minimum(dur_ms * (1 + 50 * (rng.random(n) < 0.02)), 120_000.0)
    end = start + (dur_ms * 1e6).astype(np.uint64)

    status = np.zeros(n, dtype=np.int32)  # UNSET
    r = rng.random(n)
    status[r < 0.6] = 1  # OK
    status[r < error_frac] = 2  # ERROR

    has_thr = rng.random(n) < threshold_frac
    thr_len = np.zeros(n, dtype=np.int32)
    thr_len[has_thr] = rng.integers(1, 15, size=int(has_thr.sum()))
    thr_val = np.zeros(n, dtype=np.uint64)
    raw = rng.integers(0, 1 << 56, size=n, dtype=np.int64).astype(np.uint64)
    # right-pad semantics: keep only the leading thr_len hex digits
    keep_bits = (thr_len.astype(np.int64) * 4).astype(np.uint64)
    mask = ((np.uint64(1) << keep_bits) - np.uint64(1)) << (np.uint64(56) - keep_bits)
    thr_val = raw & mask

    name_id = rng.integers(0, len(codec.NAMES) - 1, size=n, dtype=np.int32)
    is_dec = (rng.random(n) < decision_span_frac).astype(np.int32)
    dec_val = (rng.random(n) < 0.5).astype(np.int32) * is_dec
    flushes = np.full(n, -1, dtype=np.int32)

    has_event = rng.random(n) < 0.15
    event_name_id = np.where(
        has_event, rng.integers(0, len(codec.EVENT_NAMES), size=n), -1
    ).astype(np.int32)
    attr_code = rng.integers(0, 1 << len(codec.ATTR_FLAGS), size=n, dtype=np.int32)
    event_attr_code = np.where(
        has_event, rng.integers(0, 1 << len(codec.ATTR_FLAGS), size=n), -1
    ).astype(np.int32)

    # Zipf-skewed source per trace (all spans of a trace share a source).
    zipf_w = 1.0 / np.arange(1, len(codec.SOURCES) + 1) ** 1.5
    zipf_w /= zipf_w.sum()
    source_per_trace = rng.choice(len(codec.SOURCES), size=n_traces, p=zipf_w).astype(np.int32)
    source_id = source_per_trace[trace_idx]

    # spread spans of a trace over consecutive batches starting at a
    # random batch — exercises cross-batch metadata merge + decision cache.
    # Default clips the spill into the last batch (oversizing it ~1.5x —
    # kept for corpus stability); spill_wrap=True wraps it to batch 0
    # instead so every batch gets the same expected traffic (the r5 soak's
    # naive tail ratio was dominated by the oversized final batch).
    base_batch = rng.integers(0, n_batches, size=n_traces)
    within = rng.integers(0, 2, size=n)
    raw_batch = base_batch[trace_idx] + within
    if spill_wrap:
        batch_idx = (raw_batch % n_batches).astype(np.int32)
    else:
        batch_idx = np.minimum(raw_batch, n_batches - 1).astype(np.int32)

    n_filler = rng.integers(0, filler_tokens + 1, size=n, dtype=np.int32)

    # hot-trace skew knob (north rule's skew clause): reassign a fraction
    # of ALL spans to trace 0, spread over every batch — one doc_id then
    # carries hot_trace_frac of the corpus, the single-key skew that a
    # plain hash-partitioned agg serializes into one task and the
    # two-phase salted agg (functions/skew.py) flattens.
    if hot_trace_frac > 0:
        k = max(1, int(n * hot_trace_frac))
        hot_rows = rng.choice(n, size=k, replace=False)
        trace_idx[hot_rows] = 0
        batch_idx[hot_rows] = rng.integers(0, n_batches, size=k)
        source_id = source_per_trace[trace_idx]

    return {
        "trace_idx": trace_idx,
        "trace_hi": trace_hi[trace_idx],
        "trace_lo": trace_lo[trace_idx],
        "span_id": span_id,
        "parent_span_id": parent,
        "start_ts": start,
        "end_ts": end,
        "status_id": status,
        "threshold_len": thr_len,
        "threshold_value": thr_val,
        "name_id": name_id,
        "is_decision_span": is_dec,
        "decision_value": dec_val,
        "flushes": flushes,
        "event_name_id": event_name_id,
        "attr_code": attr_code,
        "source_id": source_id,
        "event_attr_code": event_attr_code,
        "batch_idx": batch_idx,
        "n_filler": n_filler,
        "rng_filler_seed": np.full(n, seed, dtype=np.int64),
    }


def build_sequences_table(cols: dict[str, np.ndarray]) -> pa.Table:
    """Assemble the arrow table (doc_id, tokens, n_tok, source, batch_idx)."""
    n = len(cols["span_id"])
    headers = codec.encode_headers(cols)

    # deterministic filler: seeded per-corpus, variable length per row
    rng = np.random.default_rng(int(cols["rng_filler_seed"][0]) + 1)
    n_filler = cols["n_filler"]
    total_filler = int(n_filler.sum())
    filler_flat = rng.integers(0, 50_000, size=total_filler, dtype=np.int32)

    lengths = codec.HEADER_LEN + n_filler
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    flat = np.empty(int(offsets[-1]), dtype=np.int32)
    # vectorized scatter of headers + filler
    head_idx = offsets[:-1, None] + np.arange(codec.HEADER_LEN)[None, :]
    flat[head_idx.ravel()] = headers.ravel()
    if total_filler:
        fill_mask = np.ones(len(flat), dtype=bool)
        fill_mask[head_idx.ravel()] = False
        flat[fill_mask] = filler_flat

    tokens = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), pa.array(flat))
    doc_id = pa.array(
        [codec.trace_hex(int(h), int(l)) for h, l in zip(cols["trace_hi"], cols["trace_lo"])]
    )
    source = pa.array([codec.SOURCES[i] for i in cols["source_id"]])
    return pa.table(
        {
            "doc_id": doc_id,
            "tokens": tokens,
            "n_tok": pa.array(lengths.astype(np.int32)),
            "source": source,
            "batch_idx": pa.array(cols["batch_idx"]),
        }
    )


def generate_sequences_parquet(
    path: str,
    n_traces: int,
    seed: int = 42,
    n_batches: int = 4,
    row_group_traces: int = 200_000,
    **kw,
) -> str:
    """Write the corpus to ``path`` (parquet). Chunked by trace blocks so
    arbitrarily large corpora stream without holding everything in RAM."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    writer = None
    done = 0
    block = 0
    while done < n_traces:
        cnt = min(row_group_traces, n_traces - done)
        cols = generate_span_arrays(cnt, seed=seed + block, n_batches=n_batches, **kw)
        tbl = build_sequences_table(cols)
        if writer is None:
            writer = pq.ParquetWriter(path, tbl.schema, compression="snappy")
        writer.write_table(tbl)
        done += cnt
        block += 1
    if writer is not None:
        writer.close()
    return path


def generate_clustered_embeddings_parquet(
    path: str,
    n_vecs: int = 20_000,
    dim: int = 64,
    n_clusters: int = 8,
    sigma: float = 0.25,
    seed: int = 11,
) -> str:
    """Embeddings with PLANTED Gaussian clusters (the structure real
    embedding corpora have and the driver's synthetic `embeddings` table
    lacks — its top-1 cosine ≈ 0.4 ≈ random, so any ANN recall there is
    bounded by the scan fraction). Cluster centres are random unit
    vectors; members are centre + N(0, sigma²) noise, L2-normalized.
    `label` records the true cluster for diagnostics. Same schema as the
    driver's table: (vec_id long, embedding float[], label int)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, size=n_vecs)
    vecs = centers[labels] + sigma * rng.normal(size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32))),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(tbl, path, compression="snappy")
    return path
