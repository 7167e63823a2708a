"""Correctness gate over a finished, flushed run.

(a) The multiset of non-decision source rows ``(doc_id, tokens)`` equals
    the routed rows minus the synthetic ``not_sampled_placeholder`` rows:
    compared by count, XOR of xxhash64 and the sum of its low 32 bits
    (XOR alone lets a duplicated pair cancel; the sum does not).
(b) No decision-span row reaches a sink.
(c) Per arrival batch, the routed row counts per ``sink/reason`` equal
    the golden counts recorded for the workload variant.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from atlassian_sampling_processor_spark import codec

PLACEHOLDER = "not_sampled_placeholder"
_IS_DECISION_SLOT = 33  # codec header slot of is_decision_span (0-based)


def is_decision_span(tokens="tokens"):
    """Decision-span flag read straight from the token header; rows whose
    header does not validate are ordinary (internal_error) rows."""
    t = F.col(tokens)
    return F.coalesce(
        (F.size(t) >= codec.HEADER_LEN)
        & (F.try_element_at(t, F.lit(1)) == codec.MAGIC)
        & (F.try_element_at(t, F.lit(_IS_DECISION_SLOT + 1)) == 1),
        F.lit(False),
    )


def _row_hash():
    return F.xxhash64("doc_id", "tokens")


def _multiset_aggs():
    h = _row_hash()
    return [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
    ]


@dataclass
class GateResult:
    multiset_ok: bool
    no_decision_spans: bool
    batch_ok: dict[int, bool]
    counts: dict[int, dict[str, int]] = field(default_factory=dict)
    detail: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return self.multiset_ok and self.no_decision_spans and all(self.batch_ok.values())

    def failed_batches(self) -> list[int]:
        if not (self.multiset_ok and self.no_decision_spans):
            return sorted(self.batch_ok)
        return sorted(b for b, ok in self.batch_ok.items() if not ok)


def routed_counts(routed: DataFrame) -> tuple[dict[int, dict[str, int]], tuple, int]:
    """Per-batch ``sink/reason`` counts, the routed multiset summary
    (placeholders excluded) and the number of decision-span rows, from
    one aggregation over the routed rows."""
    rows = (
        routed.groupBy("batch", "sink", "reason")
        .agg(
            F.count(F.lit(1)).alias("all"),
            F.sum(is_decision_span().cast("long")).alias("dec"),
            *_multiset_aggs(),
        )
        .collect()
    )
    counts: dict[int, dict[str, int]] = {}
    n = x = s = dec = 0
    for r in rows:
        counts.setdefault(int(r["batch"]), {})[f"{r['sink']}/{r['reason']}"] = int(r["all"])
        dec += int(r["dec"] or 0)
        if r["reason"] != PLACEHOLDER:
            n += int(r["n"])
            x ^= int(r["x"])
            s += int(r["s"])
    return counts, (n, x, s), dec


def source_summary(source: DataFrame) -> tuple:
    r = source.filter(~is_decision_span()).agg(*_multiset_aggs()).collect()[0]
    return int(r["n"]), int(r["x"] or 0), int(r["s"] or 0)


def check(
    source: DataFrame,
    routed: DataFrame,
    golden: dict[str, dict[str, int]] | None,
    batches: list[int],
) -> GateResult:
    """``source``: the input rows of the processed ``batches``;
    ``routed``: every routed row of the run, flush included; ``golden``:
    batch (as str) → ``sink/reason`` → rows, or None when recording."""
    counts, got, dec = routed_counts(routed)
    want = source_summary(source)
    res = GateResult(
        multiset_ok=got == want,
        no_decision_spans=dec == 0,
        batch_ok={},
        counts=counts,
    )
    if got != want:
        res.detail.append(f"routed multiset (n, xor, sum) {got} != source {want}")
    if dec:
        res.detail.append(f"{dec} decision-span rows reached a sink")
    for b in batches:
        if golden is None:
            res.batch_ok[b] = True
            continue
        exp = golden.get(str(b))
        ok = exp is not None and counts.get(b, {}) == exp
        res.batch_ok[b] = ok
        if not ok:
            res.detail.append(f"batch {b}: sink/reason counts {counts.get(b)} != golden {exp}")
    return res
