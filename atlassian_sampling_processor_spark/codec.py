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

The layout is declared once, in :data:`HEADER` (one slot table with
the reference citation of each field); the numpy encoder/decoder here
and the Catalyst ones in ``parse.py`` are all built from it. A new
header field is one new table entry.
"""

from __future__ import annotations

from typing import Mapping, NamedTuple

import numpy as np

MAGIC = 0x5AD0
VERSION = 1


class Slot(NamedTuple):
    field: str
    first: int  # 0-based header index
    width: int  # 16-bit chunks; width 4 = a 64-bit value, big-endian
    absent: int  # value when the span does not carry the field


HEADER: tuple[Slot, ...] = (
    Slot("magic", 0, 1, MAGIC),
    Slot("version", 1, 1, VERSION),
    # the 128-bit trace id as two 64-bit halves (the reference's 16-byte
    # TraceID, processor_test.go:26-44)
    Slot("trace_hi", 2, 4, 0),
    Slot("trace_lo", 6, 4, 0),
    Slot("span_id", 10, 4, 0),
    # all-zero ⇒ root span (internal/evaluators/root_spans.go:79-89)
    Slot("parent_span_id", 14, 4, 0),
    # uint64 Unix ns (internal/tracedata/metadata.go:16-18)
    Slot("start_ts", 18, 4, 0),
    Slot("end_ts", 22, 4, 0),
    # 0 UNSET, 1 OK, 2 ERROR (internal/evaluators/status_code.go:36-48)
    Slot("status_id", 26, 1, 0),
    # 0 = attr absent; 1..14 = number of hex digits in the
    # ``sampling.tail.threshold`` attr string (internal/evaluators/threshold.go:15-19)
    Slot("threshold_len", 27, 1, 0),
    # the threshold right-padded to 14 hex digits, in the low 56 bits
    # (internal/evaluators/threshold.go:60-84)
    Slot("threshold_value", 28, 4, 0),
    Slot("name_id", 32, 1, 0),  # index into NAMES
    # resource attr ``atlassiansampling.decision`` present (processor.go:31,442-447)
    Slot("is_decision_span", 33, 1, 0),
    Slot("decision_value", 34, 1, 0),  # 0/1; only meaningful on a decision span
    Slot("flushes", 35, 1, -1),  # −1 = attr absent (processor.go:30,591-603)
    Slot("event_name_id", 36, 1, -1),  # −1 = span has no event
    Slot("attr_code", 37, 1, 0),  # bitmask over ATTR_FLAGS → span attributes map
    Slot("source_id", 38, 1, 0),  # index into SOURCES; == resource ``service.name``
    Slot("event_attr_code", 39, 1, -1),  # −1 when no event; else a bitmask over ATTR_FLAGS
)
SLOT = {s.field: s for s in HEADER}
HEADER_LEN = sum(s.width for s in HEADER)
assert [s.first for s in HEADER] == [sum(t.width for t in HEADER[:i]) for i in range(len(HEADER))]

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


def encode_headers(fields: Mapping[str, np.ndarray]) -> np.ndarray:
    """Vectorized header builder → (n, HEADER_LEN) int32. ``fields`` maps
    header field names to equal-length arrays; a field it lacks gets its
    absent value, and keys that are not header fields are ignored."""
    n = len(next(iter(fields.values())))
    h = np.empty((n, HEADER_LEN), dtype=np.int32)
    for s in HEADER:
        v = fields.get(s.field, s.absent)
        if s.width == 1:
            h[:, s.first] = v
        else:
            v = np.broadcast_to(np.asarray(v), (n,))
            h[:, s.first : s.first + s.width] = _chunks_be(v, s.width)
    return h


def decode_headers(headers: np.ndarray) -> dict[str, np.ndarray]:
    """Vectorized decode of an (n, HEADER_LEN) int32 header block into
    every header field.

    Multi-chunk values come back as uint64 (callers reinterpret as
    signed int64 for Spark transport), single slots as int32.
    """
    if headers.ndim != 2 or headers.shape[1] < HEADER_LEN:
        raise ValueError(f"expected (n,{HEADER_LEN}) header block")
    bad = headers[:, SLOT["magic"].first] != MAGIC
    if bad.any():
        raise ValueError(f"{int(bad.sum())} rows with bad magic token")
    return {
        s.field: (
            headers[:, s.first].astype(np.int32)
            if s.width == 1
            else _unchunk_be(headers[:, s.first : s.first + s.width])
        )
        for s in HEADER
    }


def trace_hex(hi: int, lo: int) -> str:
    """128-bit (hi,lo) → 32-hex trace id (the ``doc_id`` column)."""
    return f"{hi & 0xFFFFFFFFFFFFFFFF:016x}{lo & 0xFFFFFFFFFFFFFFFF:016x}"
