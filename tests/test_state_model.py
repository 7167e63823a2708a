"""Model-based check of the merge-on-read chain (``pending_spans``, the
store's one chain table): random insert/upsert/delete batches with
random compaction cadence, mirrored into a plain dict; after every
commit the resolved table must equal the model — at the LATEST version
and at every earlier committed version (time travel). Exercises the
`_v >= _tv` survival rule, same-version upsert tombstones and compaction
folds in combinations the e2e scenarios don't reach."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from atlassian_sampling_processor_spark.state import PENDING_SPANS_SCHEMA, StateStore

KEYS = [f"k{i:02d}" for i in range(8)]

# one batch = {key: value | None}; value -> upsert, None -> delete
batch_st = st.dictionaries(
    st.sampled_from(KEYS),
    st.one_of(st.none(), st.integers(min_value=0, max_value=99)),
    min_size=0,
    max_size=5,
)
ops_st = st.lists(batch_st, min_size=1, max_size=6)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=ops_st, compact_every=st.integers(min_value=1, max_value=4))
def test_state_store_matches_model(spark, tmp_path_factory, ops, compact_every):
    tmp = tmp_path_factory.mktemp("state_model")
    store = StateStore(spark, str(tmp), compact_every=compact_every)
    model: dict[str, int] = {}
    history: list[dict[str, int]] = []

    def rows(d):
        return spark.createDataFrame(
            [(k, [v], v, "m", b, None) for k, v in d.items()], schema=PENDING_SPANS_SCHEMA
        )

    for b, batch in enumerate(ops):
        inserts = {k: v for k, v in batch.items() if v is not None}
        deletes = set(batch)  # upserts tombstone their own key too
        prev = b - 1 if b else None
        store.write_delta(
            "pending_spans",
            b,
            prev,
            inserts=rows(inserts),
            tombstone_keys=(
                spark.createDataFrame([(k,) for k in deletes], schema="doc_id string")
                if deletes
                else None
            ),
            schema=PENDING_SPANS_SCHEMA,
        )
        store.commit(b)
        for k in batch:
            model.pop(k, None)
        model.update(inserts)
        history.append(dict(model))

    for version, expected in enumerate(history):
        got = {
            r.doc_id: r.n_tok
            for r in store.read("pending_spans", version, PENDING_SPANS_SCHEMA).collect()
        }
        assert got == expected, (version, compact_every)
