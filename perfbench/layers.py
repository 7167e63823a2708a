"""Per-layer metrics of a traced run, from spans, probe walls, the Spark
event log and the pipeline's own metrics table.

Per-batch figures are means over the timed batches; ratios are taken
over the totals; state sizes are read after the last timed batch.
"""

from __future__ import annotations

import os

import probe
from stats import covered, median
from tracing import descendants, self_times, span_of_job

# metric name → unit; the order is the print order
UNITS = {
    "parse.parse_s": "s",
    "parse.enrich_s": "s",
    "parse.rows": "count",
    "parse.invalid_rows": "count",
    "aggregate.aggregate_batch_s": "s",
    "aggregate.merge_with_pending_s": "s",
    "aggregate.traces": "count",
    "aggregate.shuffle_write_bytes": "bytes",
    "aggregate.task_skew": "ratio",
    "aggregate.pending_hit_ratio": "ratio",
    "decider.decide_s": "s",
    "decider.decisive_ratio": "ratio",
    "state.read_s": "s",
    "state.write_s": "s",
    "state.compact_s": "s",
    "state.compactions": "count",
    "state.commit_s": "s",
    "state.bytes": "bytes",
    "state.files": "count",
    "state.pending_traces": "count",
    "state.evicted_traces": "count",
    "pipeline.process_batch_s": "s",
    "pipeline.jobs_per_batch": "count",
    "pipeline.driver_gap_s": "s",
    "pipeline.sink_write_s": "s",
    "pipeline.sink_rows.keep": "count",
    "pipeline.sink_rows.drop": "count",
    "pipeline.sink_rows.low_priority": "count",
    "pipeline.sink_bytes": "bytes",
    "pipeline.flush_s": "s",
    "spark.executor_busy_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.failed_tasks": "count",
    "trace.probe_s": "s",
}


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def pipeline_metrics(rows) -> tuple[float, float]:
    """(pending-cache hit ratio, decisive ratio) from the pipeline's
    metrics-table rows of the timed batches."""
    hits = misses = decisive = 0
    for r in rows:
        labels = r["labels"] or {}
        if r["metric"] == "cache_reads" and labels.get("cache") == "trace_data":
            if labels.get("hit") == "true":
                hits += r["value"]
            else:
                misses += r["value"]
        elif (
            r["metric"] == "policy_decisions"
            and labels.get("decision") in ("Sampled", "NotSampled")
            and labels.get("policy") != "__evicted__"
            and "error" not in labels
        ):
            decisive += r["value"]
    return _ratio(hits, hits + misses), _ratio(decisive, hits + misses)


def compute(
    *,
    spans,
    jobs,
    tasks,
    probes: dict[int, dict],
    results: dict[int, object],
    sink_bytes: dict[int, int],
    state_size: tuple[int, int],
    metrics_rows,
    flush_span,
    cores: int,
) -> dict[str, float]:
    own = self_times(spans)
    batches = sorted(results)
    pb = {sp.attrs["batch"]: sp for sp in spans if sp.name == "pipeline.process_batch"
          and sp.attrs.get("batch") in results}
    out: dict[str, float] = {}

    # probe layers (parse / aggregate / decider self times)
    layer = {m: [] for _, m in probe.PREFIXES if m}
    for b in batches:
        for m, v in probe.layer_times(probes[b]["walls"]).items():
            layer[m].append(v)
    for m, vs in layer.items():
        out[m] = _mean(vs)
    out["parse.rows"] = _mean(probes[b]["rows"] for b in batches)
    out["parse.invalid_rows"] = _mean(probes[b]["invalid_rows"] for b in batches)
    out["aggregate.traces"] = _mean(probes[b]["traces"] for b in batches)
    out["trace.probe_s"] = _mean(probes[b]["wall_s"] for b in batches)

    # event-log attribution: jobs tagged with a span id, then tasks
    job_span = {j.id: span_of_job(j) for j in jobs.values()}

    def tasks_of_span(sid):
        return [t for t in tasks if t.job is not None and job_span.get(t.job) == sid]

    agg_w, agg_skew = [], []
    for b in batches:
        ids = probes[b]["span_ids"]
        agg_t, enr_t = tasks_of_span(ids["aggregate"]), tasks_of_span(ids["enrich"])
        agg_w.append(sum(t.shuffle_write for t in agg_t) - sum(t.shuffle_write for t in enr_t))
        reduce_stages = sorted({t.stage for t in agg_t if t.shuffle_read > 0})
        if reduce_stages:
            runs = [t.run_s for t in agg_t if t.stage == reduce_stages[-1]]
            agg_skew.append(max(runs) / max(median(runs), 1e-3))
        else:
            agg_skew.append(1.0)
    out["aggregate.shuffle_write_bytes"] = _mean(agg_w)
    out["aggregate.task_skew"] = _mean(agg_skew)
    out["aggregate.pending_hit_ratio"], out["decider.decisive_ratio"] = pipeline_metrics(
        metrics_rows
    )

    # state and sink spans below each process_batch span
    per_batch = {k: [] for k in ("state.read", "state.write", "state.compact",
                                 "state.commit", "pipeline.sink_write")}
    compactions = 0
    for b in batches:
        sums = dict.fromkeys(per_batch, 0.0)
        for sp in descendants(spans, pb[b].id):
            if sp.name in sums:
                sums[sp.name] += own[sp.id]
            compactions += sp.name == "state.compact"
        for k, v in sums.items():
            per_batch[k].append(v)
    for k, vs in per_batch.items():
        out[f"{k}_s"] = _mean(vs)
    out["state.compactions"] = compactions / len(batches)
    out["state.bytes"], out["state.files"] = state_size
    out["state.pending_traces"] = results[batches[-1]].pending_traces
    out["state.evicted_traces"] = _mean(results[b].evicted_traces for b in batches)

    # pipeline orchestration and the Spark engine, per process_batch window
    walls, jobs_n, gaps, busy, gc, shw = [], [], [], [], [], []
    for b in batches:
        sp = pb[b]
        walls.append(sp.end - sp.start)
        jobs_n.append(sum(1 for j in jobs.values() if sp.start <= j.submitted <= sp.end))
        in_win = [t for t in tasks if sp.start <= t.launch <= sp.end]
        gaps.append((sp.end - sp.start) - covered([(t.launch, t.finish) for t in in_win],
                                                  sp.start, sp.end))
        busy.append(sum(t.run_s for t in in_win))
        gc.append(sum(t.gc_s for t in in_win))
        shw.append(sum(t.shuffle_write for t in in_win))
    out["pipeline.process_batch_s"] = _mean(walls)
    out["pipeline.jobs_per_batch"] = _mean(jobs_n)
    out["pipeline.driver_gap_s"] = _mean(gaps)
    out["pipeline.sink_rows.keep"] = _mean(results[b].kept for b in batches)
    out["pipeline.sink_rows.drop"] = _mean(results[b].dropped for b in batches)
    out["pipeline.sink_rows.low_priority"] = _mean(results[b].low_evicted for b in batches)
    out["pipeline.sink_bytes"] = _mean(sink_bytes[b] for b in batches)
    out["pipeline.flush_s"] = flush_span.end - flush_span.start
    out["spark.executor_busy_ratio"] = _ratio(sum(busy), sum(walls) * cores)
    out["spark.gc_s"] = _mean(gc)
    out["spark.shuffle_write_bytes"] = _mean(shw)
    out["spark.failed_tasks"] = sum(1 for t in tasks if t.failed)
    return {k: out[k] for k in UNITS}
