"""The token header's exact bytes: one hand-chosen span and its literal
40-int header. The numpy and Catalyst encoders must produce it, both
decoders must give the span back, and the two headers the engine writes
itself (the not-sampled placeholder and the decision-export row) must
equal the numpy encode of the same field values."""

import numpy as np
import pyspark.sql.functions as F

from atlassian_sampling_processor_spark import codec, parse
from atlassian_sampling_processor_spark.datagen import BASE_NS
from atlassian_sampling_processor_spark.export import decision_export_to_sequences
from atlassian_sampling_processor_spark.pipeline import placeholder_tokens

# trace_hi ≥ 2^63 (a negative long in Spark), −1 sentinels (no flushes
# attr, no event) and both decision flags set
SPAN = {
    "trace_hi": 0xFEDC_BA98_7654_3210,
    "trace_lo": 0x0123_4567_89AB_CDEF,
    "span_id": 0x1111_2222_3333_4444,
    "parent_span_id": 0,
    "start_ts": 0x1797_9CFE_3D85_CD15,
    "end_ts": 0x1797_9CFE_3DD2_1855,
    "status_id": 2,
    "threshold_len": 3,
    "threshold_value": 0x00AB_C000_0000_0000,  # "0xabc", right-padded
    "name_id": 2,
    "is_decision_span": 1,
    "decision_value": 1,
    "flushes": -1,
    "event_name_id": -1,
    "attr_code": 0b101,
    "source_id": 3,
    "event_attr_code": -1,
}

GOLDEN = [
    0x5AD0, 1,
    0xFEDC, 0xBA98, 0x7654, 0x3210,  # trace_hi
    0x0123, 0x4567, 0x89AB, 0xCDEF,  # trace_lo
    0x1111, 0x2222, 0x3333, 0x4444,  # span_id
    0, 0, 0, 0,  # parent_span_id
    0x1797, 0x9CFE, 0x3D85, 0xCD15,  # start_ts
    0x1797, 0x9CFE, 0x3DD2, 0x1855,  # end_ts
    2, 3,  # status, threshold_len
    0x00AB, 0xC000, 0, 0,  # threshold_value
    2, 1, 1, -1, -1, 0b101, 3, -1,  # name .. event_attr_code
]
# a span that carries no field: −1 for flushes, event name and event attrs
ABSENT = [0x5AD0, 1] + [0] * 33 + [-1, -1, 0, 0, -1]


def _s64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def _np_header(fields: dict) -> list[int]:
    """codec.encode_headers of one span; 64-bit fields as uint64."""
    cols = {
        k: np.array([v % (1 << 64)], dtype=np.uint64) if codec.SLOT[k].width > 1
        else np.array([v])
        for k, v in fields.items()
    }
    return codec.encode_headers(cols)[0].tolist()


def test_numpy_encode_is_golden():
    assert len(GOLDEN) == codec.HEADER_LEN
    assert _np_header(SPAN) == GOLDEN
    assert _np_header({"name_id": 0}) == ABSENT


def test_catalyst_encode_is_golden(spark):
    got = spark.range(1).select(
        parse.header_column(**{k: _s64(v) for k, v in SPAN.items()}).alias("h"),
        parse.header_column().alias("absent"),
    ).first()
    assert got.h == GOLDEN and got.absent == ABSENT


def test_decoders_return_the_span(spark):
    d = codec.decode_headers(np.array([GOLDEN], dtype=np.int32))
    assert {k: int(d[k][0]) for k in SPAN} == SPAN
    assert (int(d["magic"][0]), int(d["version"][0])) == (codec.MAGIC, codec.VERSION)

    row = spark.createDataFrame(
        [("d", GOLDEN + [7, 8], len(GOLDEN) + 2, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    got = parse.parse_sequences(row).first().asDict()
    for name, typ in parse.DECODED_FIELDS:
        want = SPAN[name] == 1 if typ.typeName() == "boolean" else _s64(SPAN[name])
        assert got[name] == want, name


def test_engine_written_headers_match_numpy_encode(spark):
    doc = codec.trace_hex(SPAN["trace_hi"], SPAN["trace_lo"])
    b = 5
    ph = spark.createDataFrame(
        [(doc, _s64(SPAN["trace_hi"]), SPAN["trace_lo"])],
        "doc_id string, trace_hi long, trace_lo long",
    ).select(
        placeholder_tokens(b).alias("tokens"),
        F.xxhash64("doc_id", F.lit("placeholder"), F.lit(b)).alias("span_id"),
    ).first()
    start = BASE_NS + b * 1_000_000_000
    assert ph.tokens == _np_header(
        dict(
            trace_hi=SPAN["trace_hi"], trace_lo=SPAN["trace_lo"], span_id=ph.span_id,
            start_ts=start, end_ts=start + 1_000_000_000,
            name_id=codec.NAMES.index("TRACE NOT SAMPLED"),
        )
    )

    dec = spark.createDataFrame(
        [(doc, True, "p", 0)], "doc_id string, decision_value boolean, policy string, "
        "decided_batch int",
    )
    row = decision_export_to_sequences(dec).select(
        "tokens", "n_tok", F.xxhash64("doc_id", F.lit("decision-export")).alias("span_id")
    ).first()
    assert row.n_tok == codec.HEADER_LEN
    assert row.tokens == _np_header(
        dict(
            trace_hi=SPAN["trace_hi"], trace_lo=SPAN["trace_lo"], span_id=row.span_id,
            is_decision_span=1, decision_value=1,
        )
    )
