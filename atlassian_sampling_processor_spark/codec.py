"""Token codec: span fields ⇄ int32 token streams.

The pipeline input (per BASELINE.json ``input_hint``) is a table of
pre-tokenized sequences ``(doc_id string, tokens array<int32>, n_tok int,
source string)``. Each row is one span of one trace (``doc_id`` = the
32-hex trace key, mirroring the reference's 16-byte TraceID,
reference processor_test.go:26-44). The span-record fields the
reference's evaluators read (SURVEY.md §2 / FIXTURES.md §2) are packed
into a fixed-width 40-int32 header at the front of ``tokens``; the rest
is opaque filler payload that must survive the pipeline byte-exact.

All values are 16-bit chunks (big-endian, most-significant first) so any
int32 token is in [−1, 65535] — valid for a vocab-like token stream.

Layout (header index → field):
    0      MAGIC (0x5AD0)
    1      VERSION (1)
    2–9    trace_id, 8×16-bit chunks of the 128-bit id
    10–13  span_id, 4×16-bit chunks of the 64-bit id
    14–17  parent_span_id (all-zero ⇒ root span,
           reference internal/evaluators/root_spans.go:79-89)
    18–21  start_ts, uint64 Unix ns (internal/tracedata/metadata.go:16-18)
    22–25  end_ts, uint64 Unix ns
    26     status_code: 0 UNSET, 1 OK, 2 ERROR
           (internal/evaluators/status_code.go:36-48)
    27     threshold_len: 0 = attr absent; 1..14 = number of hex digits in
           the ``sampling.tail.threshold`` attr string
           (internal/evaluators/threshold.go:15-19)
    28–31  threshold value after right-padding to 14 hex digits (56-bit,
           stored in the low 56 bits; internal/evaluators/threshold.go:60-84)
    32     name_id (index into NAMES)
    33     is_decision_span (resource attr ``atlassiansampling.decision``
           present; processor.go:31,442-447)
    34     decision_value (0/1; only meaningful when is_decision_span)
    35     flushes (−1 = attr absent; processor.go:30,591-603)
    36     event_name_id (−1 = span has no event)
    37     attr_code: bitmask over ATTR_FLAGS → span attributes map
    38     source_id (index into SOURCES; == resource ``service.name``)
    39     event_attr_code (−1 when no event; else bitmask over ATTR_FLAGS)
"""

from __future__ import annotations

import numpy as np

MAGIC = 0x5AD0
VERSION = 1
HEADER_LEN = 40

STATUS_CODES = ["UNSET", "OK", "ERROR"]

NAMES = [
    "GET /api/items",
    "POST /api/upload",
    "db.query",
    "cache.get",
    "render.page",
    "auth.check",
    "queue.publish",
    "TRACE NOT SAMPLED",
]

# OTel span kind per span name (deterministic fixture assignment — the
# header carries no kind slot; HTTP entry points are SERVER=2, outbound
# db/cache/queue calls are CLIENT=3, the rest INTERNAL=1). Aligned with
# NAMES; OTTL `kind` path (internal/evaluators/ottl.go span context)
# resolves against this.
SPAN_KIND_INTERNAL, SPAN_KIND_SERVER, SPAN_KIND_CLIENT = 1, 2, 3
NAME_KINDS = [2, 2, 3, 3, 1, 1, 3, 1]
assert len(NAME_KINDS) == len(NAMES)

# Instrumentation scope per span name (deterministic fixture — the
# header carries no scope slot, like kind). OTTL
# `instrumentation_scope.name/.version` paths resolve against this.
SCOPE_INFO: list[tuple[str, str]] = [
    ("otelhttp", "0.49.0"),
    ("otelhttp", "0.49.0"),
    ("otelsql", "1.24.0"),
    ("otelredis", "9.5.1"),
    ("app.render", "2.3.0"),
    ("app.auth", "2.3.0"),
    ("otelkafka", "0.46.0"),
    ("app.internal", "2.3.0"),
]
assert len(SCOPE_INFO) == len(NAMES)

SOURCES = [
    "jira-frontend",
    "confluence-monolith",
    "conf-editor",
    "bitbucket-api",
    "trello-board",
    "statuspage-web",
    "opsgenie-alerts",
    "compass-catalog",
]

# (bit, key, value) — attr dictionary for the attr_code bitmask.
ATTR_FLAGS: list[tuple[int, str, str]] = [
    (0, "env", "prod"),
    (1, "http.method", "GET"),
    (2, "http.method.post", "POST"),
    (3, "retry", "true"),
    (4, "db.system", "postgres"),
    (5, "feature.flag", "on"),
]

EVENT_NAMES = ["exception", "retry", "gc", "cache-miss"]


def _chunks_be(values: np.ndarray, n: int) -> np.ndarray:
    """Split uint64 array into n×16-bit big-endian chunks → (len, n) int32."""
    values = values.astype(np.uint64)
    out = np.empty((len(values), n), dtype=np.int32)
    for i in range(n):
        shift = np.uint64(16 * (n - 1 - i))
        out[:, i] = ((values >> shift) & np.uint64(0xFFFF)).astype(np.int32)
    return out


def _unchunk_be(chunks: np.ndarray) -> np.ndarray:
    """(len, n) int32 16-bit chunks → uint64 array."""
    n = chunks.shape[1]
    out = np.zeros(len(chunks), dtype=np.uint64)
    for i in range(n):
        out = (out << np.uint64(16)) | chunks[:, i].astype(np.uint64)
    return out


def encode_headers(
    trace_hi: np.ndarray,
    trace_lo: np.ndarray,
    span_id: np.ndarray,
    parent_span_id: np.ndarray,
    start_ts: np.ndarray,
    end_ts: np.ndarray,
    status_code: np.ndarray,
    threshold_len: np.ndarray,
    threshold_value: np.ndarray,
    name_id: np.ndarray,
    is_decision_span: np.ndarray,
    decision_value: np.ndarray,
    flushes: np.ndarray,
    event_name_id: np.ndarray,
    attr_code: np.ndarray,
    source_id: np.ndarray,
    event_attr_code: np.ndarray,
) -> np.ndarray:
    """Vectorized header builder → (n, HEADER_LEN) int32."""
    n = len(trace_hi)
    h = np.empty((n, HEADER_LEN), dtype=np.int32)
    h[:, 0] = MAGIC
    h[:, 1] = VERSION
    h[:, 2:6] = _chunks_be(trace_hi, 4)
    h[:, 6:10] = _chunks_be(trace_lo, 4)
    h[:, 10:14] = _chunks_be(span_id, 4)
    h[:, 14:18] = _chunks_be(parent_span_id, 4)
    h[:, 18:22] = _chunks_be(start_ts, 4)
    h[:, 22:26] = _chunks_be(end_ts, 4)
    h[:, 26] = status_code
    h[:, 27] = threshold_len
    h[:, 28:32] = _chunks_be(threshold_value, 4)
    h[:, 32] = name_id
    h[:, 33] = is_decision_span
    h[:, 34] = decision_value
    h[:, 35] = flushes
    h[:, 36] = event_name_id
    h[:, 37] = attr_code
    h[:, 38] = source_id
    h[:, 39] = event_attr_code
    return h


def decode_headers(headers: np.ndarray) -> dict[str, np.ndarray]:
    """Vectorized decode of an (n, HEADER_LEN) int32 header block.

    Returns int64/uint64 numpy columns; unsigned 64-bit values come back
    as uint64 (callers reinterpret as signed int64 for Spark transport).
    """
    if headers.ndim != 2 or headers.shape[1] < HEADER_LEN:
        raise ValueError(f"expected (n,{HEADER_LEN}) header block")
    bad = headers[:, 0] != MAGIC
    if bad.any():
        raise ValueError(f"{int(bad.sum())} rows with bad magic token")
    return {
        "trace_hi": _unchunk_be(headers[:, 2:6]),
        "trace_lo": _unchunk_be(headers[:, 6:10]),
        "span_id": _unchunk_be(headers[:, 10:14]),
        "parent_span_id": _unchunk_be(headers[:, 14:18]),
        "start_ts": _unchunk_be(headers[:, 18:22]),
        "end_ts": _unchunk_be(headers[:, 22:26]),
        "status_code": headers[:, 26].astype(np.int32),
        "threshold_len": headers[:, 27].astype(np.int32),
        "threshold_value": _unchunk_be(headers[:, 28:32]),
        "name_id": headers[:, 32].astype(np.int32),
        "is_decision_span": headers[:, 33].astype(np.int32),
        "decision_value": headers[:, 34].astype(np.int32),
        "flushes": headers[:, 35].astype(np.int32),
        "event_name_id": headers[:, 36].astype(np.int32),
        "attr_code": headers[:, 37].astype(np.int32),
        "source_id": headers[:, 38].astype(np.int32),
        "event_attr_code": headers[:, 39].astype(np.int32),
    }


def trace_hex(hi: int, lo: int) -> str:
    """128-bit (hi,lo) → 32-hex trace id (the ``doc_id`` column)."""
    return f"{hi & 0xFFFFFFFFFFFFFFFF:016x}{lo & 0xFFFFFFFFFFFFFFFF:016x}"
