"""Probe pass: times the layers that only build lazy plans.

``parse_sequences``, ``enrich_*``, ``aggregate_batch``,
``merge_with_pending`` and the decider never run a Spark job of their
own; their work executes inside the pipeline's later actions. The probe
rebuilds the same chain on a batch's input against the committed state,
materialises each cumulative prefix with a ``noop`` write, and a layer's
self time is the difference between consecutive prefixes. It runs
after ``process_batch`` (reading the state version the batch started
from) and outside its timing.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from atlassian_sampling_processor_spark import codec
from atlassian_sampling_processor_spark.aggregate import (
    aggregate_batch,
    merge_with_pending,
    with_hash_columns,
)
from atlassian_sampling_processor_spark.decider import make_decision, post_decision_state
from atlassian_sampling_processor_spark.parse import enrich_core, enrich_spans, parse_sequences
from atlassian_sampling_processor_spark.state import DECISION_STATE_SCHEMA, PENDING_STATE_SCHEMA

# prefix name → layer metric its difference to the previous prefix feeds
PREFIXES = (
    ("scan", None),
    ("parse", "parse.parse_s"),
    ("enrich", "parse.enrich_s"),
    ("aggregate", "aggregate.aggregate_batch_s"),
    ("merge", "aggregate.merge_with_pending_s"),
    ("decide", "decider.decide_s"),
)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_batch(tracer, pipe, raw: DataFrame, b: int, prev: int | None) -> dict:
    """Cumulative-prefix wall times (seconds) and row counts for batch
    ``b`` against the state committed at ``prev``; each prefix runs
    inside a ``probe.<name>`` span so its Spark jobs can be found in the
    event log."""
    with tracer.paused():
        pend_state = pipe.store.read("pending_state", prev, PENDING_STATE_SCHEMA)
        dec_state = pipe.store.read("decision_state", prev, DECISION_STATE_SCHEMA)
    pols = pipe.policies
    enrich = enrich_spans if pipe._needs_span_strings() else enrich_core
    # the pipeline's header-validity guard (pipeline.process_batch)
    valid = F.coalesce(
        (F.size("tokens") >= codec.HEADER_LEN)
        & (F.try_element_at("tokens", F.lit(1)) == codec.MAGIC)
        & (F.try_element_at("tokens", F.lit(2)) == codec.VERSION),
        F.lit(False),
    )
    scan_obs = Observation(f"probe_scan_{b}")
    scan = raw.observe(
        scan_obs,
        F.sum(valid.cast("long")).alias("valid"),
        F.sum((~valid).cast("long")).alias("invalid"),
    )
    parsed = parse_sequences(raw.filter(valid))
    spans = enrich(parsed)
    to_eval = spans.filter(~F.col("is_decision_span")).join(
        dec_state.select("doc_id"), "doc_id", "left_anti"
    )
    agg_obs = Observation(f"probe_agg_{b}")
    agg = aggregate_batch(to_eval, pols, b, salt_buckets=pipe.engine.salt_buckets)
    merged = merge_with_pending(agg, pend_state)
    decided = post_decision_state(make_decision(with_hash_columns(merged, pols), pols), pols)
    frames = {
        "scan": scan,
        "parse": parsed,
        "enrich": spans,
        "aggregate": agg.observe(agg_obs, F.count(F.lit(1)).alias("traces")),
        "merge": merged,
        "decide": decided,
    }
    t_probe = time.perf_counter()
    walls, span_ids = {}, {}
    for name, _ in PREFIXES:
        # twice, keeping the faster: the first run of a prefix also pays
        # for compiling its plan, which would bias the differences
        runs = []
        for _ in range(2):
            with tracer.span(f"probe.{name}", root=True, batch=b) as sp:
                t0 = time.perf_counter()
                _noop(frames[name])
                runs.append(time.perf_counter() - t0)
        walls[name] = min(runs)
        span_ids[name] = sp.id
    return {
        "wall_s": time.perf_counter() - t_probe,
        "walls": walls,
        "span_ids": span_ids,
        "rows": int(scan_obs.get["valid"] or 0),
        "invalid_rows": int(scan_obs.get["invalid"] or 0),
        "traces": int(agg_obs.get["traces"] or 0),
    }


def layer_times(walls: dict) -> dict[str, float]:
    """Self time per layer metric from the cumulative prefix walls."""
    out = {}
    for (prev, _), (name, metric) in zip(PREFIXES, PREFIXES[1:]):
        out[metric] = walls[name] - walls[prev]
    return out
