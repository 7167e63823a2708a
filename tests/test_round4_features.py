"""Round-4 fix tests (round-3 ADVICE items):

* truncate() must replace a stale uncommitted base at the same version
  — a crashed compaction followed by a flush()-style truncation must not
  resurrect the dead base's rows.
* OTTL: a parenthesized arithmetic operand as a comparison lhs parses
  (`(end_time_unix_nano - start_time_unix_nano) > 5000000` — the
  duration idiom with explicit parens).
* OTTL: arithmetic over a string-typed path is a total function under
  ANSI mode (non-numeric value → NULL → comparison false, no runtime
  cast error).
* pipeline.run() on an empty input table returns [] instead of raising
  TypeError on None+1.
"""

import pytest
from pyspark.sql import functions as F

from atlassian_sampling_processor_spark import decision as D
from atlassian_sampling_processor_spark.config import EngineConfig, parse_policies
from atlassian_sampling_processor_spark.pipeline import SamplingPipeline
from atlassian_sampling_processor_spark.policies import OTTLCondition
from atlassian_sampling_processor_spark.state import PENDING_SPANS_SCHEMA, StateStore

from .helpers import seq_table_from_spans, trace_id
from .test_policies_golden import eval_ottl


def test_truncate_removes_stale_base(spark, tmp_path):
    """Crashed-compaction base at v=N + truncate at v=N: after commit, the
    read must resolve the truncation, not the dead base."""
    store = StateStore(spark, str(tmp_path / "ck"))

    def rows(doc, b):
        return spark.createDataFrame([(doc, [1], 1, "svc", b, None)], schema=PENDING_SPANS_SCHEMA)

    store.write_delta(
        "pending_spans", 0, None, inserts=rows("a" * 32, 0), tombstone_keys=None,
        schema=PENDING_SPANS_SCHEMA,
    )
    store.commit(0)
    # a compaction crashed mid-way at v=1, leaving an uncommitted base...
    rows("e" * 32, 1).write.mode("overwrite").parquet(store._base_path("pending_spans", 1))
    # ...then a flush() truncates at the same version
    store.truncate("pending_spans", 1)
    store.commit(1)
    assert store.read("pending_spans", 1, PENDING_SPANS_SCHEMA).count() == 0
    # and the next delta on top of the flushed state must stay ghost-free
    store.write_delta(
        "pending_spans", 2, 1, inserts=rows("b" * 32, 2), tombstone_keys=None,
        schema=PENDING_SPANS_SCHEMA,
    )
    store.commit(2)
    docs = {r.doc_id for r in store.read("pending_spans", 2, PENDING_SPANS_SCHEMA).collect()}
    assert docs == {"b" * 32}


@pytest.mark.parametrize(
    "cond,spans,expected",
    [
        # parenthesized duration arithmetic as comparison lhs
        (
            "(end_time_unix_nano - start_time_unix_nano) > 5000000",
            [dict(start_ts=0, end_ts=6_000_000)],
            D.SAMPLED,
        ),
        (
            "(end_time_unix_nano - start_time_unix_nano) > 5000000",
            [dict(start_ts=0, end_ts=1_000)],
            D.PENDING,
        ),
        # nested parens around an operand
        (
            "((end_time_unix_nano - start_time_unix_nano)) >= 10",
            [dict(start_ts=5, end_ts=15)],
            D.SAMPLED,
        ),
        # parenthesized boolean expression still works
        (
            '(name == "span-name") and status.code == 0',
            [dict()],
            D.SAMPLED,
        ),
    ],
)
def test_ottl_paren_arith_lhs(spark, cond, spans, expected):
    pol = OTTLCondition(name="paren", span_conditions=[cond])
    assert eval_ottl(spark, pol, spans) == expected


@pytest.mark.parametrize(
    "cond,spans,expected",
    [
        # arithmetic over a non-numeric string path: NULL, comparison false
        ('name + 1 > 5', [dict(name="span-name")], D.PENDING),
        # ...but a numeric-valued string participates normally
        ('name + 1 > 5', [dict(name="7")], D.SAMPLED),
        # string literal operand in arithmetic is total too
        ('Len(name) + "x" > 0', [dict()], D.PENDING),
        ('attributes["n"] - 1 == 41', [dict(attrs={"n": "42"})], D.SAMPLED),
        ('attributes["n"] - 1 == 41', [dict(attrs={"n": "forty-two"})], D.PENDING),
    ],
)
def test_ottl_arith_string_paths_total(spark, cond, spans, expected):
    """builders.py's error_mode=ignore claim holds: compiled expressions
    are total functions even for arithmetic over string-typed paths."""
    pol = OTTLCondition(name="tot", span_conditions=[cond])
    assert eval_ottl(spark, pol, spans) == expected


def test_run_empty_input(spark, tmp_path):
    pipe = SamplingPipeline(
        spark,
        parse_policies([{"name": "sc", "type": "span_count", "span_count": {"min_spans": 2}}]),
        EngineConfig(),
        checkpoint_dir=str(tmp_path / "ck"),
        output_dir=str(tmp_path / "out"),
    )
    empty = seq_table_from_spans(spark, [dict(doc_id=trace_id(1), span_id=1, batch_idx=0)]).filter(
        F.lit(False)
    )
    assert pipe.run(empty) == []


def test_ottl_propagate_error_metric(spark, tmp_path):
    """error_mode=propagate surfaces evaluation errors into the metrics
    table (policy_decisions with an error dimension) — the reference's
    decider warn-log (decider.go:46-48) made observable."""
    policies = parse_policies([
        {
            "name": "errprone",
            "type": "ottl_condition",
            "ottl_condition": {
                "span": ['Int(attributes["env"]) == 7'],  # env="prod" → strconv error
                "error_mode": "propagate",
            },
        },
        {"name": "fallback", "type": "span_count", "span_count": {"min_spans": 1}},
    ])
    pipe = SamplingPipeline(
        spark, policies, EngineConfig(),
        checkpoint_dir=str(tmp_path / "pm" / "ck"),
        output_dir=str(tmp_path / "pm" / "out"),
    )
    spans = [
        dict(doc_id=trace_id(8100), span_id=1, attr_code=1, batch_idx=0),  # env attr → error
        dict(doc_id=trace_id(8101), span_id=2, attr_code=0, batch_idx=0),  # no attr → nil
    ]
    pipe.run(seq_table_from_spans(spark, spans))
    rows = pipe.store.read("metrics", 0).collect()
    errs = [
        r for r in rows
        if r.metric == "policy_decisions" and r.labels.get("error") == "true"
    ]
    assert len(errs) == 1
    assert errs[0].labels["policy"] == "errprone"
    assert errs[0].labels["decision"] == "Unspecified"
    assert errs[0].value == 1
    # the decider continued: both traces sampled by the fallback policy
    kept = {
        r.doc_id: r.policy
        for r in pipe.read_sink("keep").collect()
    }
    assert kept == {trace_id(8100): "fallback", trace_id(8101): "fallback"}


def test_plans_audit_covers_all_queries():
    """A query that ships without a PLANS.md cartesian-audit entry fails
    the suite (round-3 verdict: the audit's value is that it can't be
    skipped). Regenerate with `python tools/explain_plans.py`."""
    import re
    from pathlib import Path

    import __spark_entry__ as entry

    plans = Path(__file__).resolve().parent.parent / "PLANS.md"
    text = plans.read_text()
    section = text.split("## cartesian audit", 1)
    assert len(section) == 2, "PLANS.md lacks the cartesian audit section"
    audited = set(re.findall(r"^- ([a-z0-9_]+): ", section[1], re.M))
    expected = set(entry.queries().keys())
    missing = expected - audited
    assert not missing, f"queries missing from PLANS.md cartesian audit: {sorted(missing)}"


def test_ivf_clustered_recall(spark, tmp_path):
    """On clustered data the IVF probe must beat the scan-fraction
    bound: 4 planted clusters, probe 1 of 4 cells (25% scan) → recall@5
    well above 0.25 (expect ~0.9)."""
    import numpy as np

    from atlassian_sampling_processor_spark.datagen import (
        generate_clustered_embeddings_parquet,
    )
    from atlassian_sampling_processor_spark.functions.dataops import (
        ivf_topk_df,
        kmeans_centroids,
    )

    path = generate_clustered_embeddings_parquet(
        str(tmp_path / "embeddings.parquet"), n_vecs=1500, n_clusters=4, seed=5
    )
    import pyarrow.parquet as pq

    vecs = np.stack(
        pq.read_table(path).column("embedding").to_numpy(zero_copy_only=False)
    ).astype(np.float64)
    n_q, k = 20, 5
    sims = vecs[:n_q] @ vecs.T
    np.fill_diagonal(sims[:, :n_q], -np.inf)
    exact = {qi: set(np.argsort(-sims[qi])[:k].tolist()) for qi in range(n_q)}

    cents = kmeans_centroids(vecs[::3], 4, seed=1)
    e = spark.read.parquet(path).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    got = {}
    for r in ivf_topk_df(e, cents, n_probe=1, k=k, n_queries=n_q).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact[qi] & got.get(qi, set())) for qi in range(n_q))
    recall = hits / (n_q * k)
    assert recall > 0.7, f"clustered recall@5 at 25% scan = {recall}"


def test_ottl_propagate_error_metric_nested(spark, tmp_path):
    """A propagate OTTL nested in an and-policy still surfaces the error
    metric (the reference's decider warn fires for the TOP policy when a
    sub evaluator errors — decider.go:46-48)."""
    policies = parse_policies([
        {
            "name": "wrapped",
            "type": "and",
            "and": {"and_sub_policy": [
                {"name": "inner", "type": "ottl_condition", "ottl_condition": {
                    "span": ['Int(attributes["env"]) == 7'], "error_mode": "propagate"}},
                {"name": "sc", "type": "span_count", "span_count": {"min_spans": 1}},
            ]},
        },
        {"name": "fallback", "type": "span_count", "span_count": {"min_spans": 1}},
    ])
    pipe = SamplingPipeline(
        spark, policies, EngineConfig(),
        checkpoint_dir=str(tmp_path / "pmn" / "ck"),
        output_dir=str(tmp_path / "pmn" / "out"),
    )
    pipe.run(seq_table_from_spans(
        spark, [dict(doc_id=trace_id(8200), span_id=1, attr_code=1, batch_idx=0)]
    ))
    errs = [
        r for r in pipe.store.read("metrics", 0).collect()
        if r.metric == "policy_decisions" and r.labels.get("error") == "true"
    ]
    assert [(r.labels["policy"], r.value) for r in errs] == [("wrapped", 1)]
