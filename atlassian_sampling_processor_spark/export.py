"""Sink-side export helpers.

``export_nested`` regroups flat span rows back into one row per trace
with an ordered array of span structs — the Spark analogue of the
reference's ``appendAndMoveToTraces`` re-nesting under a single Resource
(processor_copied.go:50-72), for consumers that want an OTLP-ish shape.

``decision_export_to_sequences`` turns a flushed decision export back
into decision-span sequence rows (token-encoded), closing the
horizontal-scaling loop the reference implements with decision spans
(processor.go:538-572 flush → processor.go:436-480 re-ingest,
DESIGN.md:148-167).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import codec
from .parse import header_column


def export_nested(spans: DataFrame, order_cols: list[str] | None = None) -> DataFrame:
    """Flat span rows → one row per trace: (doc_id, source, spans array).

    Order inside the array follows ``order_cols`` (default arrival order:
    batch_idx, then token identity) — the reference preserves append
    order when regrouping.
    """
    order = order_cols or ["batch_idx", "n_tok"]
    payload = F.struct(*[F.col(c) for c in spans.columns if c != "doc_id"])
    return (
        spans.withColumn("_p", payload)
        .groupBy("doc_id")
        .agg(
            F.min("source").alias("source"),
            F.sort_array(
                F.collect_list(F.struct(*[F.col(c) for c in order], F.col("_p").alias("span")))
            ).alias("_sorted"),
        )
        .select(
            "doc_id",
            "source",
            F.transform("_sorted", lambda x: x["span"]).alias("spans"),
            F.size("_sorted").alias("span_count"),
        )
    )


def decision_export_to_sequences(dec_export: DataFrame, batch_idx: int = 0) -> DataFrame:
    """Decision export rows (doc_id, decision_value, policy,
    decided_batch) → decision-span sequence rows the pipeline re-ingests
    (is_decision_span set in the token header)."""
    def hex16(col, start):
        # two 8-hex halves → 64-bit (avoids ANSI overflow on conv ≥ 2^63)
        top = F.conv(F.substring(col, start, 8), 16, 10).cast("long")
        bot = F.conv(F.substring(col, start + 8, 8), 16, 10).cast("long")
        return F.shiftleft(top, 32).bitwiseOR(bot)

    tokens = header_column(
        trace_hi=hex16(F.col("doc_id"), 1),
        trace_lo=hex16(F.col("doc_id"), 17),
        span_id=F.xxhash64("doc_id", F.lit("decision-export")),
        is_decision_span=1,  # atlassiansampling.decision
        decision_value=F.when(F.col("decision_value"), 1).otherwise(0),
    )
    return dec_export.select(
        "doc_id",
        tokens.alias("tokens"),
        F.lit(codec.HEADER_LEN).alias("n_tok"),
        F.lit("decision-export").alias("source"),
        F.lit(batch_idx).alias("batch_idx"),
    )
