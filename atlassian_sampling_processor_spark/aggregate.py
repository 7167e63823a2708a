"""Per-trace aggregation + metadata merge.

``aggregate_batch`` is the reference's ``NewTraceData`` metadata build
(internal/tracedata/tracedata.go:24-62) as one hash aggregation over the
current batch — Catalyst runs it partial+final (map-side combine), so
the shuffle moves one row per (partition, trace), not per span.

``merge_with_pending`` is ``Metadata.MergeWith``
(internal/tracedata/metadata.go:29-39): a left join of the batch
aggregate with the checkpointed ``pending_state`` on the trace key plus
the same sum/min/max/greatest merge expressions. At cluster scale both
sides are bucketed by ``doc_id`` so this join is co-partitioned.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import decision as D
from . import hashing
from .functions.skew import salted_agg
from .policies import Policy, collect_hash_salts, collect_span_agg_exprs
from .policies.base import AGG, hash_col_name

MAX_THRESHOLD = (1 << 56) - 1


def aggregate_batch(
    spans: DataFrame, policies: list[Policy], batch_idx: int = 0, salt_buckets: int = 0
) -> DataFrame:
    """Current-batch spans → one row per trace with all metadata +
    policy-requested aggregates. Policies never see the cached payload
    (the reference's O(batch) contract, DESIGN.md:100-108).

    ``salt_buckets > 0`` switches to an explicit two-phase salted
    aggregation on the trace key (north rule; ``skew.salted_agg``, salted
    by ``span_id``): phase 1 aggregates
    (doc_id, salt) sub-groups — a pathologically hot trace spreads over
    ``salt_buckets`` reducers — phase 2 re-merges per doc_id. Every
    aggregate here is decomposable (count→sum, min/max/bool-or→same),
    so the result is identical to the plain groupBy; Catalyst's
    map-side partial aggregation already covers moderate skew, this
    covers the single-trace-floods-a-reducer case.
    """
    exprs: list[Column] = [
        F.count(F.lit(1)).cast("int").alias(AGG.BATCH_SPAN_COUNT),
        F.min("start_ts").alias("batch_min_start"),
        F.max("end_ts").alias("batch_max_end"),
        F.max(F.col("status_id") == 0).alias(AGG.ANY_STATUS_UNSET),
        F.max(F.col("status_id") == 1).alias(AGG.ANY_STATUS_OK),
        F.max(F.col("status_id") == 2).alias(AGG.ANY_STATUS_ERROR),
        F.min(F.when(F.col("threshold_len") > 0, F.col("threshold_value"))).alias(
            AGG.MIN_THRESHOLD
        ),
        F.max("is_root").alias(AGG.ANY_ROOT),
        # all spans of a grouped trace share one resource in the reference
        # (processor_copied.go:50-72); min() = deterministic pick
        F.min("source").alias(AGG.FIRST_SOURCE),
        F.first("trace_hi").alias(AGG.TRACE_HI),
        F.first("trace_lo").alias(AGG.TRACE_LO),
        *collect_span_agg_exprs(policies),
    ]
    if salt_buckets > 0:
        names = spans.groupBy(AGG.DOC_ID).agg(*exprs).columns[1:]  # analysis only
        remerge = {
            AGG.BATCH_SPAN_COUNT: F.sum(AGG.BATCH_SPAN_COUNT).cast("int"),
            "batch_min_start": F.min("batch_min_start"),
            "batch_max_end": F.max("batch_max_end"),
            AGG.MIN_THRESHOLD: F.min(AGG.MIN_THRESHOLD),
            AGG.FIRST_SOURCE: F.min(AGG.FIRST_SOURCE),
            AGG.TRACE_HI: F.first(AGG.TRACE_HI),
            AGG.TRACE_LO: F.first(AGG.TRACE_LO),
        }
        final = [
            remerge[n]
            if n in remerge
            # ottl_first_* = min-of-struct order keys (propagate mode)
            else F.min(n) if n.startswith("ottl_first_") else F.max(n)  # bool flags → or
            for n in names
        ]
        agg = salted_agg(
            spans, AGG.DOC_ID, list(zip(exprs, names)), list(zip(final, names)),
            buckets=salt_buckets, salt_from="span_id",
        )
    else:
        agg = spans.groupBy(AGG.DOC_ID).agg(*exprs)
    return agg.withColumn("batch_idx", F.lit(batch_idx))


def with_hash_columns(df: DataFrame, policies: list[Policy]) -> DataFrame:
    """Add one Catalyst FNV-1a64 column per distinct salt, computed after
    the aggregation (so once per trace, not per span)."""
    for salt in sorted(collect_hash_salts(policies)):
        name = hash_col_name(salt)
        if name not in df.columns:
            df = df.withColumn(name, hashing.fnv_hash_column(salt))
    return df


def merge_with_pending(batch_agg: DataFrame, pending_state: DataFrame | None) -> DataFrame:
    """Merge the batch aggregate with cached per-trace metadata.

    Exact MergeWith parity (metadata.go:29-39): count sums, min start,
    max end, max priority, and the *cache's* LastLowPriorityDecisionName
    (the incoming td's marker is nil). The incoming td is always built
    with priority Unspecified (processor.go:345), so the merged priority
    is always Unspecified in the live flow — kept as an expression for
    exactness.
    """
    if pending_state is None:
        merged = batch_agg.select(
            "*",
            F.lit(None).cast("int").alias("cached_span_count"),
            F.lit(None).cast("long").alias("cached_min_start"),
            F.lit(None).cast("long").alias("cached_max_end"),
            F.lit(None).cast("int").alias("cached_priority"),
            F.lit(None).cast("string").alias("cached_last_low_policy"),
            F.lit(None).cast("int").alias("cached_arrival_batch"),
            F.lit(None).cast("int").alias("cached_last_seen_batch"),
        )
    else:
        p = pending_state.select(
            F.col("doc_id"),
            F.col("span_count").alias("cached_span_count"),
            F.col("min_start").alias("cached_min_start"),
            F.col("max_end").alias("cached_max_end"),
            F.col("priority").alias("cached_priority"),
            F.col("last_low_policy").alias("cached_last_low_policy"),
            F.col("arrival_batch").alias("cached_arrival_batch"),
            # the cached row's recency epoch — lets the pipeline derive
            # pending epoch MOVES from the persisted decision frame
            # instead of re-scanning pending_state (pipeline.py step 5)
            F.col("last_seen_batch").alias("cached_last_seen_batch"),
        )
        merged = batch_agg.join(p, "doc_id", "left")

    return merged.select(
        "*",
        (F.col(AGG.BATCH_SPAN_COUNT) + F.coalesce(F.col("cached_span_count"), F.lit(0))).alias(
            AGG.TOTAL_SPAN_COUNT
        ),
        F.least("batch_min_start", "cached_min_start").alias(AGG.MIN_START),
        F.greatest("batch_max_end", "cached_max_end").alias(AGG.MAX_END),
        F.greatest(
            F.lit(D.PRIORITY_UNSPECIFIED), F.coalesce("cached_priority", F.lit(0))
        ).alias(AGG.MERGED_PRIORITY),
        F.col("cached_last_low_policy").alias(AGG.LAST_LOW_POLICY),
        F.coalesce("cached_arrival_batch", F.col("batch_idx")).alias("arrival_batch"),
    )
