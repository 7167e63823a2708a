"""Parse stage: tokenized sequences → span-row DataFrame.

The hot-path decode is pure Catalyst expressions over the fixed-width
header (``parse_sequences``) — zero Python, fully inside whole-stage
codegen, column-pruned per consumer; tests cross-check it bit-for-bit
against the codec's numpy decode (``codec.decode_headers``). All
string/map materialization (status names, attr maps, threshold attr
string) is separate Catalyst expressions in :func:`enrich_spans`. The
stage is a narrow map — no shuffle until the per-trace aggregation.

Reference parity: the parsed row carries exactly the fields the
reference's evaluators read (FIXTURES.md §2; e.g. status
internal/evaluators/status_code.go:56-66, threshold attr
internal/evaluators/threshold.go:34-91, parent/root detection
internal/evaluators/root_spans.go:79-89).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec

# header fields the decoder skips: the format check, and source_id,
# which the ``source`` column already carries
_UNDECODED = ("magic", "version", "source_id")
# 0/1 slots decoded as booleans
_FLAGS = ("is_decision_span", "decision_value")


def _decoded_type(s: codec.Slot) -> T.DataType:
    if s.field in _FLAGS:
        return T.BooleanType()
    return T.IntegerType() if s.width == 1 else T.LongType()


# numeric columns produced by the decoder (beyond passthrough)
DECODED_FIELDS = [
    (s.field, _decoded_type(s)) for s in codec.HEADER if s.field not in _UNDECODED
]


def _el(i: int):
    """Header slot i (0-based) as long — element_at is 1-based."""
    return F.element_at(F.col("tokens"), i + 1).cast("long")


def _decode(s: codec.Slot):
    """One header field as a Catalyst expression: 16-bit big-endian
    chunks OR-ed into a long (a 64-bit value wraps to signed via the
    shift), an int for a single slot, a boolean for a 0/1 flag."""
    if s.field in _FLAGS:
        return _el(s.first) == 1
    if s.width == 1:
        return _el(s.first).cast("int")
    out = F.shiftleft(_el(s.first), 16 * (s.width - 1))
    for i in range(1, s.width):
        chunk = _el(s.first + i)
        shift = 16 * (s.width - 1 - i)
        out = out.bitwiseOR(F.shiftleft(chunk, shift) if shift else chunk)
    return out


def parse_sequences(df: DataFrame) -> DataFrame:
    """tokens → numeric span fields, decoded entirely with Catalyst
    expressions (element_at + shifts/ORs over the fixed-width header).

    Zero Python on the hot path: the token payload never leaves the JVM,
    the whole decode lives inside whole-stage codegen, and the stage is a
    narrow map.
    """
    clash = [n for n, _ in DECODED_FIELDS if n in df.columns]
    out = df.drop(*clash)
    return out.withColumns({n: _decode(codec.SLOT[n]) for n, _ in DECODED_FIELDS})


def header_column(**fields):
    """The token header as one ``array<int>`` Column — the Catalyst
    encoder. Each keyword is a header field (a Column or a literal); a
    field not given gets its absent value."""
    parts = []
    for s in codec.HEADER:
        v = fields.pop(s.field, s.absent)
        v = v if isinstance(v, Column) else F.lit(v)
        if s.width == 1:
            parts.append(v.cast("int"))
        else:
            parts += [
                F.shiftrightunsigned(v.cast("long"), 16 * (s.width - 1 - i))
                .bitwiseAND(F.lit(0xFFFF))
                .cast("int")
                for i in range(s.width)
            ]
    if fields:
        raise ValueError(f"not header fields: {sorted(fields)}")
    return F.array(*parts)


def _flush_count(c):
    """The header's flush count, NULL when absent (encoded as -1)."""
    return F.when(c >= 0, c)


def _try_slot(field: str):
    """A header field's (first) slot, NULL past the end of the tokens."""
    return F.try_element_at("tokens", F.lit(codec.SLOT[field].first + 1))


def header_valid():
    """The header check a raw row must pass before it is decoded: enough
    tokens for the fixed-width header, and the format's magic and
    version in their header slots. NULL (e.g. null tokens) counts as
    invalid. Rows that fail it are the reference's undecodable trace data
    (reportTraceDataErr, processor.go:676-680)."""
    return F.coalesce(
        (F.size("tokens") >= codec.HEADER_LEN)
        & (_try_slot("magic") == codec.MAGIC)
        & (_try_slot("version") == codec.VERSION),
        F.lit(False),
    )


def routing_fields(valid):
    """(is decision span, flush count) read straight off a raw row's
    tokens, NULL unless ``valid`` (the header check) holds — so ANSI
    never indexes a short array. The flush count is normalized exactly as
    in :func:`enrich_core`."""

    def slot(field):
        return F.when(valid, _try_slot(field))

    return slot("is_decision_span") == 1, _flush_count(slot("flushes"))


def _attr_map(code_col: str):
    """attr_code bitmask → map<string,string> via pure exprs."""
    entries = [
        F.when(
            (F.col(code_col).bitwiseAND(F.lit(1 << bit))) != 0,
            F.struct(F.lit(k).alias("key"), F.lit(v).alias("value")),
        )
        for bit, k, v in codec.ATTR_FLAGS
    ]
    return F.map_from_entries(F.filter(F.array(*entries), lambda x: x.isNotNull()))


def _idx_lookup(values: list[str], idx_col, default=None):
    """index → string via array literal element_at (codegen-friendly)."""
    arr = F.array(*[F.lit(v) for v in values])
    got = F.element_at(arr, idx_col + F.lit(1))
    return F.when(idx_col >= 0, got).otherwise(F.lit(default))


def enrich_core(df: DataFrame) -> DataFrame:
    """Hot-path derivations only — integer/boolean exprs, no string or
    map materialization (those cost real CPU per span and are needed only
    by OTTL policies and human-facing surfaces).
    """
    return (
        # root detection per root_spans.go:86-88: empty parent OR parent ==
        # right-8-bytes of the trace id
        df.withColumn(
            "is_root",
            (F.col("parent_span_id") == 0) | (F.col("parent_span_id") == F.col("trace_lo")),
        ).withColumn("flushes", _flush_count(F.col("flushes")))
    )


# Resource attributes of the span's service, derived deterministically
# from the source column (the token header carries one resource slot —
# source_id — so the richer resource surface is a fixture assignment,
# the same approach as scope_name/scope_version and kind). Shared by the
# OTTL span context (resource.attributes[...]) and the decider's
# record_decision_from extraction (decider.go:175-188 reads ANY
# configured resource attribute, not just service.name).
RESOURCE_ATTR_KEYS = ("service.name", "service.namespace", "deployment.environment")
_ENVIRONMENTS = ("prod", "staging", "dev")


def resource_attr_expr(key: str, source):
    """Column for resource attribute ``key`` of the service named by the
    ``source`` Column — None when the key is not in the resource model
    (the reference yields "" for an absent attribute)."""
    if key == "service.name":
        return source
    if key == "service.namespace":
        # the team/namespace prefix of the service name ("jira-frontend"
        # → "jira"); sources without a dash pass through whole
        return F.split(source, "-").getItem(0)
    if key == "deployment.environment":
        # deterministic per-service environment fixture; pmod keeps the
        # index non-negative for negative hashes (ANSI abs would throw
        # on LONG_MIN)
        idx = F.pmod(F.xxhash64(source), F.lit(len(_ENVIRONMENTS))).cast("int")
        return F.element_at(F.array(*[F.lit(e) for e in _ENVIRONMENTS]), idx + 1)
    return None


def enrich_spans(df: DataFrame) -> DataFrame:
    """Full span surface: core + string/map fields from numeric codes —
    still pure Catalyst expressions."""
    thr_hex = F.lower(F.lpad(F.hex(F.col("threshold_value")), 14, "0"))
    return (
        enrich_core(df)
        .withColumn("status_code", _idx_lookup(codec.STATUS_CODES, F.col("status_id")))
        .withColumn("name", _idx_lookup(codec.NAMES, F.col("name_id")))
        .withColumn(
            "sampling_tail_threshold",
            F.when(
                F.col("threshold_len") > 0,
                F.concat(F.lit("0x"), thr_hex.substr(F.lit(1), F.col("threshold_len"))),
            ),
        )
        .withColumn("attrs", _attr_map("attr_code"))
        .withColumn("event_name", _idx_lookup(codec.EVENT_NAMES, F.col("event_name_id")))
        # OTTL wave-3 surface (internal/evaluators/ottl.go span context):
        # resource attrs (service.name == the source column, plus the
        # derived fixture attrs — see resource_attr_expr) and span kind
        # (deterministic per-name fixture assignment, codec.NAME_KINDS)
        .withColumn(
            "resource_attrs",
            F.create_map(
                *[
                    c
                    for k in RESOURCE_ATTR_KEYS
                    for c in (F.lit(k), resource_attr_expr(k, F.col("source")))
                ]
            ),
        )
        .withColumn(
            "kind",
            F.coalesce(
                F.when(
                    F.col("name_id") >= 0,
                    F.element_at(
                        F.array(*[F.lit(k) for k in codec.NAME_KINDS]),
                        F.col("name_id") + F.lit(1),
                    ),
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "event_attrs",
            F.when(F.col("event_attr_code") >= 0, _attr_map("event_attr_code")),
        )
        # instrumentation scope (ottlspan context): deterministic per-name
        # fixture, same approach as `kind` (codec.SCOPE_INFO)
        .withColumn("scope_name", _idx_lookup([n for n, _ in codec.SCOPE_INFO], F.col("name_id")))
        .withColumn("scope_version", _idx_lookup([v for _, v in codec.SCOPE_INFO], F.col("name_id")))
    )
