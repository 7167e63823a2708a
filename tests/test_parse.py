"""Token codec + vectorized parse stage round-trip (FIXTURES.md §1-2):
every span field encoded by datagen must be recovered exactly, and the
tokens column must pass through byte-identical.
"""

import numpy as np
import pyspark.sql.functions as F

from atlassian_sampling_processor_spark import codec, datagen, parse


def test_codec_roundtrip_numpy():
    cols = datagen.generate_span_arrays(n_traces=50, seed=42)
    h = codec.encode_headers(cols)
    d = codec.decode_headers(h)
    for k in ("trace_hi", "trace_lo", "span_id", "parent_span_id", "start_ts", "end_ts"):
        assert (d[k] == cols[k]).all(), k
    assert (d["status_id"] == cols["status_id"]).all()
    assert (d["threshold_value"] == cols["threshold_value"]).all()
    assert (d["attr_code"] == cols["attr_code"]).all()


def test_parse_stage_roundtrip(spark, tmp_path):
    p = str(tmp_path / "seq.parquet")
    datagen.generate_sequences_parquet(p, n_traces=300, seed=42)
    raw = spark.read.parquet(p)
    df = parse.enrich_spans(parse.parse_sequences(raw)).cache()

    n_raw = raw.count()
    assert df.count() == n_raw

    # doc_id string == reconstructed hex of (trace_hi, trace_lo)
    rebuilt = F.concat(
        F.lower(F.lpad(F.hex("trace_hi"), 16, "0")), F.lower(F.lpad(F.hex("trace_lo"), 16, "0"))
    )
    assert df.filter(rebuilt != F.col("doc_id")).count() == 0

    # tokens byte-exact passthrough: compare against raw by (doc_id, span_id slot)
    a = raw.select("doc_id", F.hash("tokens").alias("h")).groupBy("doc_id").agg(
        F.sum("h").alias("hs"), F.count("*").alias("c")
    )
    b = df.select("doc_id", F.hash("tokens").alias("h")).groupBy("doc_id").agg(
        F.sum("h").alias("hs"), F.count("*").alias("c")
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # n_tok invariant
    assert df.filter(F.size("tokens") != F.col("n_tok")).count() == 0

    # threshold attr string decodes back to the numeric value
    sample = df.filter("threshold_len > 0").limit(20).collect()
    assert sample, "expected some spans with thresholds"
    for r in sample:
        assert int(r.sampling_tail_threshold[2:].ljust(14, "0"), 16) == r.threshold_value
        assert len(r.sampling_tail_threshold) == 2 + r.threshold_len

    # status mapping
    assert set(df.select("status_code").distinct().toPandas().status_code) <= {
        "UNSET", "OK", "ERROR"
    }

    # attrs bitmask: bit set ⇔ key present
    rows = df.select("attr_code", "attrs").limit(200).collect()
    for r in rows:
        for bit, k, v in codec.ATTR_FLAGS:
            if r.attr_code & (1 << bit):
                assert r.attrs.get(k) == v
            else:
                assert k not in r.attrs

    # root flag: parent==0 or parent==trace_lo
    bad = df.filter(
        F.col("is_root")
        != ((F.col("parent_span_id") == 0) | (F.col("parent_span_id") == F.col("trace_lo")))
    ).count()
    assert bad == 0
    df.unpersist()


def test_datagen_deterministic(tmp_path):
    import pyarrow.parquet as pq

    p1 = str(tmp_path / "a.parquet")
    p2 = str(tmp_path / "b.parquet")
    datagen.generate_sequences_parquet(p1, n_traces=100, seed=42)
    datagen.generate_sequences_parquet(p2, n_traces=100, seed=42)
    t1, t2 = pq.read_table(p1), pq.read_table(p2)
    assert t1.equals(t2)


def test_source_skew_is_zipf():
    cols = datagen.generate_span_arrays(n_traces=5000, seed=42)
    counts = np.bincount(cols["source_id"], minlength=len(codec.SOURCES))
    # top source should dominate (Zipf 1.5): > 3× the median source
    assert counts.max() > 3 * np.median(counts)


def test_expr_decoder_matches_pandas_decoder(spark, tmp_path):
    """The Catalyst expression decoder and the codec's numpy decode of the
    collected tokens must agree bit-for-bit on every field."""
    p = str(tmp_path / "seq2.parquet")
    datagen.generate_sequences_parquet(p, n_traces=400, seed=11, decision_span_frac=0.05)
    raw = spark.read.parquet(p)
    cols = [n for n, _ in parse.DECODED_FIELDS]
    rows = parse.parse_sequences(raw).select("tokens", *cols).collect()
    d = codec.decode_headers(np.array([r.tokens[: codec.HEADER_LEN] for r in rows], dtype=np.int32))
    want = {
        "is_decision_span": d["is_decision_span"] == 1,
        "decision_value": d["decision_value"] == 1,
    }
    for name in cols:
        expect = want.get(name, d.get(name))
        if expect.dtype == np.uint64:
            expect = expect.view(np.int64)
        got = np.array([r[name] for r in rows], dtype=expect.dtype)
        assert (got == expect).all(), name
