"""Decision & priority enums — same integer coding as the reference
(internal/evaluators/policy_eval.go:21-34, internal/priority/priority.go:12-20)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

UNSPECIFIED = 0
PENDING = 1
SAMPLED = 2
NOT_SAMPLED = 3
LOW_PRIORITY = 4

DECISION_NAMES = {
    UNSPECIFIED: "Unspecified",
    PENDING: "Pending",
    SAMPLED: "Sampled",
    NOT_SAMPLED: "NotSampled",
    LOW_PRIORITY: "LowPriority",
}
NAME_TO_DECISION = {v: k for k, v in DECISION_NAMES.items()}

# decisive = decider returns immediately (decider.go:77-79); note Unspecified
# (evaluator error) is NOT decisive — the loop continues.
DECISIVE = (SAMPLED, NOT_SAMPLED, LOW_PRIORITY)

# decision kinds held in the decision caches (atlassian_sampling_processor.go
# sampledDecisionCache / nonSampledDecisionCache). Shared by pipeline.py's
# caps dict and state.py's min-watermark partition-prune gate — the prune is
# only sound when EVERY cached kind has a watermark, so both sides must
# agree on this set.
CACHED_KINDS = (SAMPLED, NOT_SAMPLED)

PRIORITY_LOW = 1
PRIORITY_UNSPECIFIED = 2

# the pending cache's two tiers (tiered_cache.go:41-49), in the order the
# per-epoch count lists index them
TIERS = ("primary", "secondary")


def tier_of(priority: Column) -> Column:
    """Pending-cache tier of a priority column: LowPriority traces live in
    the secondary cache, every other trace in the primary."""
    return F.when(priority == PRIORITY_LOW, F.lit("secondary")).otherwise(F.lit("primary"))
