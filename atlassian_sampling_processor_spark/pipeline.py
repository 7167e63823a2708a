"""Micro-batch sampling pipeline: parse → enrich → decide → route → aggregate.

One ``process_batch`` call is the Spark re-expression of the reference's
``ConsumeTraces`` hot path (processor.go:239-406) over a whole arrival
slice at once, as an ordered list of phases:

  load      committed state + epoch counts   resumability (DESIGN.md:148-167)
  ingest    parse, decision-span ingest      processor.go:436-480
  evaluate  decision_state anti-join         earlyDecisionChecks processor.go:408-430
            groupBy(doc_id) agg              NewTraceData metadata (tracedata.go:24-62)
            left join pending_state + merge  Metadata.MergeWith (metadata.go:29-39)
            ordered when/coalesce chain      decider.MakeDecision (decider.go:41-81)
  count     one counters action              decider.go:60-74, lru_cache.go:49-58
  evict     epoch-watermark eviction         tiered_cache.go:41-49 + lru eviction
  route     one pass over the arrivals       processor.go:369-404, 515-536
  commit    state write + atomic commit      resumability (DESIGN.md:148-167)

Scale notes (100 TB / 1000 executors):
* The token payload is never shuffled: the per-trace agg shuffles only
  pruned numeric columns (partial aggregation map-side), and routing
  joins broadcast the small per-trace decision tables. The reference's
  shard co-location (util.go:42-49) is the agg's hash partitioning.
* Routing scans each arrival slice once: one frame reads the header
  check and two header slots (decision-span flag, flush count), joins
  the early-decision state and the per-trace terminal outcomes, and one
  ``when`` chain gives every span its (sink, reason, policy). The
  pending-spans inserts are the same frame's still-pending rows. Nothing
  on the decide path runs Python (the probabilistic hash is a Catalyst
  expression), so a batch starts no Python worker.
* State joins are on doc_id; with Iceberg/bucketed state tables they're
  co-partitioned and shuffle-free. Here (plain parquet) AQE picks
  broadcast when state is small.
* Capacity eviction never scans a cache: per-epoch per-kind live counts
  ride each epoch table's evmeta, whole epochs fall off by a driver-side
  watermark advance, and at most one boundary epoch per kind is read for
  a partial eviction.
* Micro-batch fixed cost is the per-batch Spark job count and the
  driver's planning time, not the rows: one serial counters action, then
  five concurrent output jobs (one partitioned write for all three
  sinks, one write per state table, the drift guard). State reads are
  schema-bound, metrics are written on the driver, and the per-trace
  frames are local-checkpointed so later plans scan them instead of
  re-planning the parse lineage. ``tests/test_batch_commit.py`` holds a
  tiny trickle-shaped batch to 24 jobs.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import codec
from . import decision as D
from .aggregate import aggregate_batch, merge_with_pending, with_hash_columns
from .config import EngineConfig
from .decider import decision_from_column, make_decision, post_decision_state
from .parse import (
    enrich_core,
    enrich_spans,
    header_column,
    header_valid,
    parse_sequences,
    routing_fields,
)
from .policies import Policy
from .state import (
    DECISION_STATE_SCHEMA,
    PENDING_SPANS_SCHEMA,
    PENDING_STATE_SCHEMA,
    StateStore,
)
from .state import empty_frame as _empty
from .state import union_all as _union

# columns carried into sinks / pending payload — the original sequence row
# (byte-exact tokens) + arrival lineage
PASSTHROUGH = ["doc_id", "tokens", "n_tok", "source", "batch_idx", "flushes"]

ROUTED_SCHEMA = (
    PENDING_SPANS_SCHEMA
    + ", policy string, reason string, flushes_out int, partition_id int,"
    " released_batch int, sink string, batch int"
)

EVICTION_POLICY = "__evicted__"
DECISION_SPAN_POLICY = "__decision_span__"
# the drift guard's label for decision-cache partial-eviction victims
_DEC_VICTIMS = "__decision_victims__"


def plan_decision_eviction(
    counts: dict[int, list[int]],
    wm: dict[int, int],
    caps: dict[int, int],
    b: int,
    kinds: tuple = None,
) -> tuple[list[tuple[int, int, int]], dict[int, tuple[int, int]]]:
    """FIFO epoch-cache eviction plan — pure driver arithmetic. Shared by
    the decision caches (kinds = Sampled/NotSampled over decided_batch
    epochs) and the pending cache (kinds = primary/secondary tiers over
    last_seen_batch epochs).

    ``counts``: per-epoch per-kind live counts (list indexed like
    ``kinds``); ``wm``: per-kind watermark (epochs ≤ wm are dead for that
    kind); ``caps``: per-kind capacity. Mutates counts/wm in place and
    returns ``(partial_requests, eviction_ages)`` where a partial request
    ``(kind, epoch, k)`` asks for the k lowest in-epoch-order rows of
    that kind in that epoch (the same victims as a keep-order recency
    rank) and ages are ``{kind: (n_evicted, Σ(b - epoch))}``
    (decision_eviction_time, processor.go:665-674, in batch units)."""
    kidx = {k: i for i, k in enumerate(kinds if kinds is not None else D.CACHED_KINDS)}
    partial_req: list[tuple[int, int, int]] = []
    dec_ev_age: dict[int, tuple[int, int]] = {}
    for kind, cap in caps.items():
        i = kidx[kind]
        w = wm.get(kind, -1)
        over = sum(cnt[i] for e, cnt in counts.items() if e > w) - cap
        if over <= 0:
            continue
        n_ev, age = 0, 0
        for e in sorted(e for e in counts if e > w):
            n = counts[e][i]
            if n <= over:  # whole epoch falls off — no job at all
                wm[kind] = e
                over -= n
                counts[e][i] = 0
                n_ev += n
                age += n * (b - e)
            else:
                partial_req.append((kind, e, over))
                counts[e][i] = n - over
                n_ev += over
                age += over * (b - e)
                over = 0
            if over == 0:
                break
        dec_ev_age[kind] = (n_ev, age)
    return partial_req, dec_ev_age


def live_counts(counts: dict[int, list[int]], wm: dict, kinds: tuple) -> dict:
    """Live rows per kind: the counts of the epochs above that kind's
    watermark (``counts`` lists are indexed like ``kinds``)."""
    return {
        k: sum(c[i] for e, c in counts.items() if e > wm.get(k, -1))
        for i, k in enumerate(kinds)
    }


def _checkpoint(df: DataFrame) -> DataFrame:
    """Lazy local checkpoint: the first action materializes ``df`` into
    executor blocks; the returned frame's plan is a scan of those blocks,
    so later plans over it stay small."""
    return df.localCheckpoint(eager=False)


def _release(spark: SparkSession, df: DataFrame) -> None:
    """Free a local checkpoint's blocks. ``DataFrame.unpersist`` does not
    reach them, and ``RDD.unpersist`` logs a lineage warning for every
    checkpointed RDD, so this drops the blocks the way it does, without
    the warning."""
    rdd = df._jdf.queryExecution().logical().rdd()
    spark.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)


def _status(sink, reason, policy=None):
    """A routed row's (sink, reason, policy) struct."""
    if policy is None:
        policy = F.lit(None).cast("string")
    return F.struct(
        F.lit(sink).alias("sink"), F.lit(reason).alias("reason"), policy.alias("policy")
    )


def _terminal(decided: DataFrame, new_dec: DataFrame, evicted: DataFrame | None) -> DataFrame:
    """Each trace's terminal outcome this batch, ``(doc_id, decision,
    policy, tier)``: the evaluated traces decided Sampled/NotSampled, the
    decision-span decisions (policy ``__decision_span__``) and the
    pending eviction victims (NotSampled by policy ``__evicted__``, tier
    set; processor.go:626-658). The three sets are disjoint: evaluation
    skips every trace with a decision, and a victim is still pending."""
    no_tier = F.lit(None).cast("string").alias("tier")
    parts = [
        decided.filter(F.col("decision").isin(*D.CACHED_KINDS)).select(
            "doc_id", "decision", "policy", no_tier
        ),
        new_dec.select("doc_id", "decision", "policy", no_tier),
    ]
    if evicted is not None:
        parts.append(evicted.select(
            "doc_id", F.lit(D.NOT_SAMPLED).alias("decision"),
            F.lit(EVICTION_POLICY).alias("policy"), "tier",
        ))
    return _union(parts)


@dataclass
class BatchResult:
    batch_idx: int
    kept: int = 0
    dropped: int = 0
    low_evicted: int = 0
    sampled_traces: int = 0
    not_sampled_traces: int = 0
    evicted_traces: int = 0
    pending_traces: int = 0


@dataclass
class _Loaded:
    """The state a batch starts from, as committed by the previous one."""

    prev: int | None
    pend_state: DataFrame
    pend_spans: DataFrame
    dec_state: DataFrame
    nop_dec: bool  # both decision caches at capacity 0
    # per-epoch per-kind live counts and per-kind watermarks of the two
    # epoch caches; the count and evict phases update them in place
    pcounts: dict[int, list[int]]
    pwm: dict
    dcounts: dict[int, list[int]]
    dwm: dict


@dataclass
class _Counters:
    """Driver-side counts from the batch's one counters action."""

    err_counts: dict[str, int]  # top-level policy → evaluation errors
    # (policy, decision, decision_from) → traces
    dec_counts: dict[tuple, int] = field(default_factory=dict)
    # decision → traces decided by decision spans
    ds_counts: dict[int, int] = field(default_factory=dict)
    n_eval: int = 0
    hits: int = 0  # evaluated traces already in the pending cache
    n_moved: int = 0  # pending rows that leave their old epoch

    def decided(self, kind: int) -> int:
        return sum(n for (_, d, _), n in self.dec_counts.items() if d == kind)


@dataclass
class _Eviction:
    """Both caches' eviction plans (driver arithmetic), the frames that
    carry them out and the batch's terminal outcomes."""

    updated: DataFrame  # this batch's pending_state rows (epoch b)
    evicted: DataFrame | None  # pending victims, checkpointed
    removal: DataFrame | None  # pending_state (doc_id, last_seen_batch) removal keys
    planned: dict[str, tuple[int, int]]  # tier → (victims, Σ age in batches)
    terminal: DataFrame  # see _terminal
    decisions: DataFrame  # this batch's decision_state rows
    victims: DataFrame | None = None  # decision_state partial-eviction keys, checkpointed
    n_victims: int = 0
    dec_ev_age: dict[int, tuple[int, int]] = field(default_factory=dict)

    @property
    def n_evicted(self) -> int:
        return sum(n for n, _ in self.planned.values())


class SamplingPipeline:
    """Driver-orchestrated micro-batch loop carrying checkpointed state."""

    def __init__(
        self,
        spark: SparkSession,
        policies: list[Policy],
        engine: EngineConfig | None = None,
        checkpoint_dir: str = "/tmp/asp_ckpt",
        output_dir: str = "/tmp/asp_out",
    ):
        self.spark = spark
        self.policies = policies
        self.engine = engine or EngineConfig()
        self.store = StateStore(
            spark, checkpoint_dir, compact_every=self.engine.state_compact_every
        )
        self.out = output_dir
        self._emit_placeholder = {
            p.name: p.emit_single_span_for_not_sampled for p in policies
        }

    def _needs_span_strings(self) -> bool:
        from .policies import OTTLCondition

        def walk(p):
            if isinstance(p, OTTLCondition):
                return True
            subs = getattr(p, "sub_policies", None) or (
                [p.sub_policy] if getattr(p, "sub_policy", None) else []
            )
            return any(walk(s) for s in subs)

        return any(walk(p) for p in self.policies)

    # ------------------------------------------------------------------ sinks

    def _write_routed(self, batch: int, df: DataFrame) -> dict:
        """Single write for all sinks, partitioned by sink name;
        row counts come from an Observation on the same action."""
        obs = Observation(f"routed_{batch}")
        df = (
            df.withColumn("partition_id", F.spark_partition_id())
            .withColumn("released_batch", F.lit(batch))
            .observe(
                obs,
                F.sum((F.col("sink") == "keep").cast("long")).alias("kept"),
                F.sum((F.col("sink") == "drop").cast("long")).alias("dropped"),
                F.sum((F.col("sink") == "low_priority").cast("long")).alias("low"),
                F.sum((F.col("reason") == "internal_error").cast("long")).alias("interr"),
            )
        )
        df.write.mode("overwrite").partitionBy("sink").parquet(
            f"{self.out}/routed/batch={batch}"
        )
        got = obs.get
        return {k: int(got[k] or 0) for k in ("kept", "dropped", "low", "interr")}

    def read_sink(self, sink: str) -> DataFrame:
        import glob

        base = f"{self.out}/routed"
        paths = sorted(glob.glob(f"{base}/batch=*/sink={sink}"))
        if not paths:
            return _empty(self.spark, ROUTED_SCHEMA).drop("sink")
        df = self.spark.read.option("basePath", base).parquet(*paths)
        return df.drop("sink")

    # ------------------------------------------------------------- batch step

    def process_batch(self, raw_batch: DataFrame, b: int) -> BatchResult:
        """Run one arrival slice through the phases in order; the batch
        becomes visible only when ``_commit`` moves the ``LATEST``
        marker."""
        t0 = time.perf_counter()
        st = self._load()
        raw_batch, reg, new_dec, dec_mid = self._ingest(raw_batch, b, st.dec_state)
        decided = self._evaluate(b, reg, dec_mid, st.pend_state)
        ds_moved, cnt = self._count(b, decided, new_dec, st)
        ev = self._evict(b, st, decided, new_dec, ds_moved, cnt)
        routed, pending_inserts = self._route(
            b, raw_batch, dec_mid, decided, ev.terminal, st.pend_spans
        )
        return self._commit(
            b, t0, st, cnt, ev, routed, pending_inserts, (decided, new_dec, ds_moved)
        )

    def _load(self) -> _Loaded:
        """The previous batch's committed state frames and epoch counts.
        A nop decision cache (both capacities 0, nop_cache.go:11-40)
        always misses, so the batch sees an empty one even on a
        checkpoint that held decisions before a reconfigure to capacity
        0."""
        prev = self.store.last_committed_batch()
        nop_dec = (
            self.engine.sampled_cache_size == 0
            and self.engine.non_sampled_cache_size == 0
        )
        pend_state = self.store.read("pending_state", prev, PENDING_STATE_SCHEMA)
        pend_spans = self.store.read("pending_spans", prev, PENDING_SPANS_SCHEMA)
        dec_state = (
            _empty(self.spark, DECISION_STATE_SCHEMA)
            if nop_dec
            else self.store.read("decision_state", prev, DECISION_STATE_SCHEMA)
        )
        pcounts, pwm = self.store.epoch_meta("pending_state", prev)
        dcounts, dwm = ({}, {}) if nop_dec else self.store.epoch_meta("decision_state", prev)
        return _Loaded(prev, pend_state, pend_spans, dec_state, nop_dec, pcounts, pwm, dcounts, dwm)

    def _ingest(
        self, raw_batch: DataFrame, b: int, dec_state: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        """Header check, parse/enrich and the decision-span ingest
        (processor.go:436-480). Returns the raw batch with its lineage
        columns, the regular spans, this batch's decision-span decisions
        (checkpointed) and ``decision_state`` with them. Rows failing
        :func:`header_valid` are never decoded (ANSI ``element_at`` never
        sees a short array); strings are enriched only for OTTL policies.
        A trace's first decision span wins over later ones and loses to
        ``decision_state``; within a batch the lowest span_id wins
        (SURVEY.md §7 hard part b)."""
        if "flushes" not in raw_batch.columns:
            raw_batch = raw_batch.withColumn("flushes", F.lit(None).cast("int"))
        if "batch_idx" not in raw_batch.columns:
            raw_batch = raw_batch.withColumn("batch_idx", F.lit(b))
        enrich = enrich_spans if self._needs_span_strings() else enrich_core
        spans = enrich(parse_sequences(raw_batch.filter(header_valid())))
        new_dec = _checkpoint(
            spans.filter(F.col("is_decision_span"))
            .groupBy("doc_id")
            .agg(F.min_by("decision_value", "span_id").alias("dv"))
            .join(dec_state.select("doc_id"), "doc_id", "left_anti")
            .select(
                "doc_id",
                F.when(F.col("dv"), F.lit(D.SAMPLED)).otherwise(F.lit(D.NOT_SAMPLED)).alias("decision"),
                F.lit(DECISION_SPAN_POLICY).alias("policy"),
                F.lit(b).alias("decided_batch"),
            )
        )
        reg = spans.filter(~F.col("is_decision_span"))
        return raw_batch, reg, new_dec, dec_state.unionByName(new_dec)

    def _evaluate(
        self, b: int, reg: DataFrame, dec_mid: DataFrame, pend_state: DataFrame
    ) -> DataFrame:
        """Early-decision check (processor.go:408-430), then aggregate,
        merge and decide the traces with no decision yet. ``decided`` is
        local-checkpointed: the counters action materializes it once and
        later plans scan its blocks instead of re-analyzing the lineage.
        (A lost executor fails the batch, which replays from the last
        commit.)"""
        to_eval = reg.join(dec_mid.select("doc_id"), "doc_id", "left_anti")
        agg = aggregate_batch(to_eval, self.policies, b, salt_buckets=self.engine.salt_buckets)
        merged = with_hash_columns(merge_with_pending(agg, pend_state), self.policies)
        return _checkpoint(
            post_decision_state(make_decision(merged, self.policies), self.policies)
        )

    def _count(
        self, b: int, decided: DataFrame, new_dec: DataFrame, st: _Loaded
    ) -> tuple[DataFrame, _Counters]:
        """The ONE counters action, the batch's only serial driver sync
        before the output jobs: one small aggregation over ``decided``,
        the decision-span ingest and the pending rows that ingest moves
        (``ds_moved``). It yields the pending epoch moves (-1 at the old
        epoch, +1 at epoch b, applied to ``st.pcounts``), policy_decisions
        and decision_from (decider.go:60-74), cache_reads hits
        (lru_cache.go:49-58), evaluation errors per top-level policy the
        decider reached (decider.go:46-48) and the decision-span counts,
        and materializes the three checkpoints."""
        tidx = {t: i for i, t in enumerate(D.TIERS)}
        hit = F.col("cached_span_count").isNotNull()
        ds_moved = _checkpoint(
            st.pend_state.join(F.broadcast(new_dec.select("doc_id")), "doc_id", "leftsemi")
            .select("doc_id", "last_seen_batch", "priority")
        )
        decisive = F.col("decision").isin(*D.DECISIVE)
        n_pol = len(self.policies)
        err_flags = [
            (
                (F.col("policy_index").isNull() | (F.lit(i) <= F.col("policy_index")))
                & (F.element_at("policy_decisions", i + 1) == D.UNSPECIFIED)
            ).cast("long").alias(f"_e{i}")
            for i in range(n_pol)
        ]
        no_err = [F.lit(0).cast("long").alias(f"_e{i}") for i in range(n_pol)]
        null_s, null_i = F.lit(None).cast("string"), F.lit(None).cast("int")
        counter_rows = (
            _union([
                decided.select(
                    F.lit("eval").alias("src"),
                    "decision",
                    F.when(decisive, F.col("policy")).alias("policy"),
                    F.when(decisive, decision_from_column(self.policies)).alias("decision_from"),
                    F.when(hit, F.col("cached_last_seen_batch")).alias("old_e"),
                    F.when(hit, D.tier_of(F.col("cached_priority"))).alias("old_t"),
                    F.when(
                        F.col("decision").isin(D.PENDING, D.LOW_PRIORITY),
                        D.tier_of(F.col("new_priority")),
                    ).alias("new_t"),
                    *err_flags,
                ),
                new_dec.select(
                    F.lit("span").alias("src"), "decision", null_s.alias("policy"),
                    null_s.alias("decision_from"), null_i.alias("old_e"),
                    null_s.alias("old_t"), null_s.alias("new_t"), *no_err,
                ),
                ds_moved.select(
                    F.lit("moved").alias("src"), null_i.alias("decision"),
                    null_s.alias("policy"), null_s.alias("decision_from"),
                    F.col("last_seen_batch").alias("old_e"),
                    D.tier_of(F.col("priority")).alias("old_t"), null_s.alias("new_t"),
                    *no_err,
                ),
            ])
            .groupBy("src", "decision", "policy", "decision_from", "old_e", "old_t", "new_t")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(f"_e{i}").alias(f"_e{i}") for i in range(n_pol)],
            )
            .collect()
        )
        cnt = _Counters(err_counts={p.name: 0 for p in self.policies})
        for r in counter_rows:
            n = int(r["n"])
            if r["old_e"] is not None:
                st.pcounts.setdefault(int(r["old_e"]), [0, 0])[tidx[r["old_t"]]] -= n
                cnt.n_moved += n
            if r["src"] == "span":
                cnt.ds_counts[r["decision"]] = cnt.ds_counts.get(r["decision"], 0) + n
            if r["src"] != "eval":
                continue
            cnt.n_eval += n
            cnt.hits += n if r["old_e"] is not None else 0
            if r["new_t"] is not None:
                st.pcounts.setdefault(b, [0, 0])[tidx[r["new_t"]]] += n
            if r["decision"] in D.DECISIVE:
                key = (r["policy"], r["decision"], r["decision_from"])
                cnt.dec_counts[key] = cnt.dec_counts.get(key, 0) + n
            for i, p in enumerate(self.policies):
                cnt.err_counts[p.name] += int(r[f"_e{i}"] or 0)
        return ds_moved, cnt

    def _evict(
        self,
        b: int,
        st: _Loaded,
        decided: DataFrame,
        new_dec: DataFrame,
        ds_moved: DataFrame,
        cnt: _Counters,
    ) -> _Eviction:
        """Capacity eviction of both caches, planned on the driver, plus
        the batch's terminal outcomes. Both caches are FIFO epoch stores,
        so eviction is a watermark advance plus at most one boundary-epoch
        read per kind. Pending (tiered_cache.go:41-49, lru_cache.go:94-99):
        rows past a tier's capacity evict ⇒ NotSampled
        (processor.go:626-658) in keep-order desc(last_seen_batch,
        arrival_batch, doc_id); a touched row MOVES to epoch b, and its old
        epoch comes from ``decided``, so nothing scans the cache.
        Decisions (processor.go:142-148) are immutable, so LRU order is
        insertion order. Both victim sets equal a full keep-order rank
        (tests/test_round4_epochs.py, tests/test_round5_pending_epochs.py,
        tests/test_differential.py)."""
        tier = D.tier_of(F.col("priority"))
        tidx = {t: i for i, t in enumerate(D.TIERS)}
        updated = decided.filter(F.col("decision").isin(D.PENDING, D.LOW_PRIORITY)).select(
            "doc_id",
            "trace_hi",
            "trace_lo",
            F.col("total_span_count").alias("span_count"),
            F.col("merged_min_start").alias("min_start"),
            F.col("merged_max_end").alias("max_end"),
            F.col("arrival_batch"),
            F.lit(b).alias("last_seen_batch"),
            F.col("new_priority").alias("priority"),
            F.col("new_last_low_policy").alias("last_low_policy"),
            F.col("first_source"),
        )
        caps_pend = {
            "primary": self.engine.primary_capacity(),
            "secondary": self.engine.secondary_cache_size,
        }
        old_pwm = dict(st.pwm)
        pre_counts = {e: list(c) for e, c in st.pcounts.items()}
        partial_pend, planned = plan_decision_eviction(
            st.pcounts, st.pwm, caps_pend, b, kinds=D.TIERS
        )
        touched = decided.select("doc_id").unionByName(new_dec.select("doc_id"))

        def tier_slice(t: str, e: int) -> DataFrame:
            """Live tier-t rows of one last_seen epoch as of this batch:
            epoch b is ``updated``; an older epoch reads ONE epoch
            file/partition and drops this batch's moved rows."""
            df = updated if e == b else self.store.read_epoch_slice(
                "pending_state", st.prev, e, PENDING_STATE_SCHEMA
            ).join(F.broadcast(touched), "doc_id", "left_anti")
            return df.filter(tier == t)

        def victims_of(df: DataFrame, t: str, e: int) -> DataFrame:
            return df.select(
                "doc_id", F.lit(t).alias("tier"), "arrival_batch", F.lit(e).alias("ev_epoch")
            )

        ev_parts = [
            victims_of(tier_slice(t, e), t, e)
            for t in D.TIERS
            for e in sorted(pre_counts)
            if old_pwm.get(t, -1) < e <= st.pwm.get(t, -1) and pre_counts[e][tidx[t]] > 0
        ]
        # a boundary epoch's partial eviction takes the k lowest
        # (arrival_batch, doc_id) — exactly the recency rank's victims
        ev_parts += [
            victims_of(tier_slice(t, e).orderBy("arrival_batch", "doc_id").limit(k), t, e)
            for t, e, k in partial_pend
        ]
        evicted = _checkpoint(_union(ev_parts)) if ev_parts else None
        # removal keys: the moved rows' old epochs plus every victim's
        # (doc_id, epoch) — victims in epoch b are written with the epoch
        # and killed by their key, one anti-join for both
        removal_parts = []
        if cnt.n_moved:
            removal_parts += [
                decided.filter(F.col("cached_span_count").isNotNull()).select(
                    "doc_id", F.col("cached_last_seen_batch").alias("last_seen_batch")
                ),
                ds_moved.select("doc_id", "last_seen_batch"),
            ]
        if evicted is not None:
            removal_parts.append(
                evicted.select("doc_id", F.col("ev_epoch").alias("last_seen_batch"))
            )
        terminal = _terminal(decided, new_dec, evicted)
        ev = _Eviction(
            updated=updated,
            evicted=evicted,
            removal=_union(removal_parts) if removal_parts else None,
            planned=planned,
            terminal=terminal,
            decisions=terminal.select(
                "doc_id", "decision", "policy", F.lit(b).alias("decided_batch")
            ),
        )
        if st.nop_dec:
            return ev
        c = st.dcounts.setdefault(b, [0, 0])
        c[0] += cnt.decided(D.SAMPLED) + cnt.ds_counts.get(D.SAMPLED, 0)
        c[1] += cnt.decided(D.NOT_SAMPLED) + ev.n_evicted + cnt.ds_counts.get(D.NOT_SAMPLED, 0)
        caps = {
            D.SAMPLED: self.engine.sampled_cache_size,
            D.NOT_SAMPLED: self.engine.non_sampled_cache_size,
        }
        partial_req, ev.dec_ev_age = plan_decision_eviction(st.dcounts, st.dwm, caps, b)
        if partial_req:
            # ONE epoch per request (this batch's rows, or an older
            # epoch's append file / base partition), never the capacity
            ev.victims = _checkpoint(_union([
                (ev.decisions if e == b else self.store.read_epoch_slice(
                    "decision_state", st.prev, e, DECISION_STATE_SCHEMA
                ))
                .filter(F.col("decision") == kind)
                .orderBy("doc_id")
                .limit(k)
                .select("doc_id", "decided_batch")
                for kind, e, k in partial_req
            ]))
        ev.n_victims = sum(k for _, _, k in partial_req)
        return ev

    def _route(
        self,
        b: int,
        raw_batch: DataFrame,
        dec_mid: DataFrame,
        decided: DataFrame,
        terminal: DataFrame,
        pend_spans: DataFrame,
    ) -> tuple[DataFrame, DataFrame]:
        """Every span's (sink, reason, policy), released once after its
        trace's one decision (processor.go:369-404). ONE frame over the
        arrival slice joins the early-decision state and the broadcast
        terminal outcomes, and one ``when`` chain routes each span:
        undecodable rows drop as ``internal_error`` (processor.go:676-680;
        a sink row keeps conservation auditable), still-pending ones get
        sink "pending" (the returned pending_spans inserts), consumed
        decision spans none. A second chain over the same table routes the
        cached payload; not-sampled placeholders (processor.go:517-533)
        follow. Kept rows carry flushes = NULL (processor.go:497-503)."""
        valid = header_valid()
        is_decision_span, header_flushes = routing_fields(valid)
        prior, d, pol, tier = F.col("_prior"), F.col("decision"), F.col("policy"), F.col("tier")
        arrival_route = (
            F.when(~valid, _status("drop", "internal_error"))
            .when(is_decision_span, None)
            .when(prior == D.SAMPLED, _status("keep", "late_sampled"))
            .when(prior == D.NOT_SAMPLED, _status("drop", "late_not_sampled"))
            .when(tier == "primary", _status("drop", "evicted_primary", pol))
            .when(tier == "secondary", _status("low_priority", "evicted_secondary", pol))
            .when(d == D.SAMPLED, _status("keep", "sampled", pol))
            .when(d == D.NOT_SAMPLED, _status("drop", "not_sampled", pol))
            .otherwise(_status("pending", None))
        )
        from_span = pol == DECISION_SPAN_POLICY
        cached_route = (
            F.when(tier == "primary", _status("drop", "evicted_primary", pol))
            .when(tier == "secondary", _status("low_priority", "evicted_secondary", pol))
            .when(from_span & (d == D.SAMPLED), _status("keep", "decision_span_release", pol))
            .when(from_span, _status("drop", "decision_span_drop", pol))
            .when(d == D.SAMPLED, _status("keep", "sampled_cached", pol))
            .otherwise(_status("drop", "not_sampled_cached", pol))
        )
        arrivals = (
            raw_batch.select(*PASSTHROUGH)
            .join(dec_mid.select("doc_id", F.col("decision").alias("_prior")), "doc_id", "left")
            .join(F.broadcast(terminal), "doc_id", "left")
            .select(
                *PASSTHROUGH[:-1],
                # the header's flush count (-1 ⇒ absent) for decodable
                # rows, the input column for undecodable ones
                F.when(valid, header_flushes).otherwise(F.col("flushes")).alias("flushes"),
                arrival_route.alias("_r"),
            )
            .filter(F.col("_r").isNotNull())
        )
        cached = pend_spans.join(F.broadcast(terminal), "doc_id", "inner").select(
            *PASSTHROUGH, cached_route.alias("_r")
        )
        routed = (
            arrivals.filter(F.col("_r.sink") != "pending")
            .unionByName(cached)
            .select(
                *PASSTHROUGH, "_r.policy", "_r.reason",
                F.lit(None).cast("int").alias("flushes_out"), "_r.sink",
            )
        )
        emit_names = [n for n, v in self._emit_placeholder.items() if v]
        if emit_names:
            routed = routed.unionByName(
                decided.filter(
                    (F.col("decision") == D.NOT_SAMPLED) & F.col("policy").isin(emit_names)
                ).select(
                    "doc_id",
                    placeholder_tokens(b).alias("tokens"),
                    F.lit(codec.HEADER_LEN).alias("n_tok"),
                    F.lit("not-sampled-dummy-service").alias("source"),
                    F.lit(b).alias("batch_idx"),
                    F.lit(None).cast("int").alias("flushes"),
                    F.col("policy"),
                    F.lit("not_sampled_placeholder").alias("reason"),
                    F.lit(None).cast("int").alias("flushes_out"),
                    F.lit("keep").alias("sink"),
                )
            )
        routed = routed.withColumn(
            "flushes",
            F.when(F.col("sink") == "keep", F.lit(None).cast("int")).otherwise(F.col("flushes")),
        )
        pending_inserts = arrivals.filter(F.col("_r.sink") == "pending").select(*PASSTHROUGH)
        return routed, pending_inserts

    def _guard(self, b: int, ev: _Eviction) -> dict[str, int]:
        """Fail-loud drift guard: the stored epochs must yield exactly
        the evictions the driver-side counts planned — silent drift would
        evict the wrong rows. One scan of the (O(batch)) victim sets,
        collected like a broadcast, no shuffle; also yields the pending
        eviction AGE per tier (batches since arrival —
        trace_eviction_time, processor.go:653-663)."""
        parts = []
        if ev.evicted is not None:
            parts.append(ev.evicted.select("tier", (F.lit(b) - F.col("arrival_batch")).alias("age")))
        if ev.victims is not None:
            parts.append(ev.victims.select(F.lit(_DEC_VICTIMS).alias("tier"), F.lit(0).alias("age")))
        if not parts:
            return {}
        got: dict[str, list[int]] = {}
        for r in _union(parts).collect():
            g = got.setdefault(r["tier"], [0, 0])
            g[0] += 1
            g[1] += r["age"]
        got_ev = {t: n for t, (n, _) in got.items() if t != _DEC_VICTIMS}
        want_ev = {t: n for t, (n, _) in ev.planned.items() if n}
        if got_ev != want_ev:
            raise RuntimeError(
                f"pending epoch-count drift at batch {b}: planned "
                f"evictions {want_ev}, stored epochs yielded {got_ev}"
            )
        got_victims = got.get(_DEC_VICTIMS, [0, 0])[0]
        if got_victims != ev.n_victims:
            raise RuntimeError(
                f"decision epoch-count drift at batch {b}: planned "
                f"{ev.n_victims} partial evictions, stored epochs yielded {got_victims}"
            )
        return {t: age for t, (_, age) in got.items() if t != _DEC_VICTIMS}

    def _commit(
        self,
        b: int,
        t0: float,
        st: _Loaded,
        cnt: _Counters,
        ev: _Eviction,
        routed: DataFrame,
        pending_inserts: DataFrame,
        checkpoints: tuple[DataFrame, ...],
    ) -> BatchResult:
        """The batch's five output jobs, run CONCURRENTLY, then the
        metrics log, the ``LATEST`` marker and the checkpoints' release.
        The jobs share no data dependencies, so their tasks interleave and
        each one's planning overlaps the others' execution; pool threads
        inherit the caller's job group and description. A failing job —
        the drift guard included — raises before ``commit``. The epoch
        caches commit O(delta) (lru_cache.go:63-71) or, when compaction is
        due, one direct base write; pending_spans inserts carry no
        tombstone and a terminal trace tombstones all its rows. A nop
        decision cache (nop_cache.go:11-40) truncates decision_state every
        batch, so it never remembers a decision."""

        def write_decisions():
            if st.nop_dec:
                self.store.truncate("decision_state", b)
            else:
                self.store.write_epoch_batch(
                    "decision_state", b, st.prev,
                    rows=ev.decisions, removal=ev.victims, counts=st.dcounts, wm=st.dwm,
                )

        jobs = (
            lambda: self._write_routed(b, routed),
            lambda: self.store.write_epoch_batch(
                "pending_state", b, st.prev,
                rows=ev.updated, removal=ev.removal, counts=st.pcounts, wm=st.pwm,
            ),
            lambda: self.store.write_delta(
                "pending_spans", b, st.prev,
                inserts=pending_inserts,
                tombstone_keys=ev.terminal.select("doc_id"),
                schema=PENDING_SPANS_SCHEMA,
            ),
            write_decisions,
            lambda: self._guard(b, ev),
        )
        with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
            futures = [ex.submit(inheritable_thread_target(self.spark)(j)) for j in jobs]
            sink_counts, _, _, _, ev_age = (f.result() for f in futures)

        res = BatchResult(
            batch_idx=b,
            kept=sink_counts["kept"],
            dropped=sink_counts["dropped"],
            low_evicted=sink_counts["low"],
            sampled_traces=cnt.decided(D.SAMPLED),
            not_sampled_traces=cnt.decided(D.NOT_SAMPLED),
            evicted_traces=ev.n_evicted,
            # live pending total: driver arithmetic over the planned counts
            pending_traces=sum(live_counts(st.pcounts, st.pwm, D.TIERS).values()),
        )
        self.store.write(
            "metrics",
            b,
            self._metrics_rows(
                b,
                cnt.dec_counts,
                res,
                hits=cnt.hits,
                misses=cnt.n_eval - cnt.hits,
                internal_errors=sink_counts["interr"],
                ev_age=ev_age,
                dec_ev_age=ev.dec_ev_age,
                batch_wall_ms=int((time.perf_counter() - t0) * 1000),
                err_counts=cnt.err_counts,
            ),
        )
        dec_live = live_counts(st.dcounts, st.dwm, D.CACHED_KINDS)
        self.store.commit(b, meta={
            "dec_sampled": dec_live[D.SAMPLED], "dec_not_sampled": dec_live[D.NOT_SAMPLED],
        })
        for df in (*checkpoints, ev.evicted, ev.victims):
            if df is not None:
                _release(self.spark, df)
        return res

    # -------------------------------------------------------------- telemetry

    def _metrics_rows(
        self,
        b: int,
        dec_counts: dict,
        res: BatchResult,
        hits: int = 0,
        misses: int = 0,
        internal_errors: int = 0,
        ev_age: dict | None = None,
        dec_ev_age: dict | None = None,
        batch_wall_ms: int = 0,
        err_counts: dict | None = None,
    ) -> list[tuple]:
        """Per-batch metrics table rows mirroring the reference's counters
        (documentation.md:9-79; emission sites per BASELINE.md). Built
        driver-side from already-collected counters and written by the
        store with pyarrow — no Spark job."""
        rows = [
            (
                b,
                "policy_decisions",
                {
                    "policy": str(p),
                    "decision": D.DECISION_NAMES[d],
                    "decision_from": str(g or ""),
                },
                int(n),
            )
            for (p, d, g), n in sorted(dec_counts.items(), key=str)
        ]
        rows += [
            (b, "traces_sampled", {}, res.sampled_traces),
            # evictions only (processor.go:647)
            (b, "traces_not_sampled", {}, res.evicted_traces),
            (b, "policy_decisions", {"policy": EVICTION_POLICY, "decision": "NotSampled"}, res.evicted_traces),
            (b, "cache_reads", {"cache": "trace_data", "hit": "true"}, hits),
            (b, "cache_reads", {"cache": "trace_data", "hit": "false"}, misses),
            (b, "kept_rows", {}, res.kept),
            (b, "dropped_rows", {}, res.dropped),
            (b, "primary_cache_size", {}, res.pending_traces),
            # internal_error_dropped_spans (processor.go:676-680): rows the
            # decoder rejected (routed to drop with reason=internal_error)
            (b, "internal_error_dropped_spans", {}, internal_errors),
            # chan_blocking_time analogue (documentation.md:17-23): the
            # reference histograms time spans wait on shard channels; the
            # Spark engine has no channels, so the closest honest signal
            # is the batch's end-to-end wall — the queueing delay the
            # NEXT arrival slice experiences.
            (b, "batch_wall_time_ms", {}, batch_wall_ms),
        ]
        # policy evaluation errors (error_mode=propagate): the decider's
        # log-and-continue path (decider.go:46-48) as a metric dimension
        for name, n in sorted((err_counts or {}).items()):
            if n:
                rows.append((
                    b,
                    "policy_decisions",
                    {"policy": str(name), "decision": "Unspecified", "error": "true"},
                    int(n),
                ))
        # trace_eviction_time (processor.go:653-663): summed eviction age in
        # BATCH units per cache tier (the reference records wall seconds per
        # eviction; batch index is this engine's clock). Emitted only on
        # batches that evicted.
        for tier_name, age in sorted((ev_age or {}).items()):
            rows.append((b, "trace_eviction_time", {"cache": tier_name}, age))
        # decision_eviction_time (processor.go:665-674), per decision kind
        for dec, (n, age) in sorted((dec_ev_age or {}).items()):
            rows.append(
                (b, "decision_eviction_time", {"decision": D.DECISION_NAMES[dec]}, age)
            )
            rows.append(
                (b, "decision_evictions", {"decision": D.DECISION_NAMES[dec]}, n)
            )
        return rows

    # ------------------------------------------------------------------- run

    def run(self, sequences: DataFrame, n_batches: int | None = None) -> list[BatchResult]:
        """Process a sequences table batch-by-batch in arrival order.
        Resumes after the last committed batch (checkpoint recovery)."""
        if n_batches is None:
            max_b = sequences.agg(F.max("batch_idx")).collect()[0][0]
            if max_b is None:  # empty input: nothing to process
                return []
            n_batches = max_b + 1
        last = self.store.last_committed_batch()
        start = (last if last is not None else -1) + 1
        results = []
        for b in range(start, n_batches):
            batch = sequences.filter(F.col("batch_idx") == b)
            results.append(self.process_batch(batch, b))
        return results

    # ----------------------------------------------------------------- flush

    def flush(self) -> dict[str, int]:
        """Shutdown flush (processor.go:538-623): emit all pending payload
        with the flush counter incremented, export decisions as
        decision-span rows, clear state."""
        prev = self.store.last_committed_batch()
        b = (prev if prev is not None else -1) + 1
        pend_spans = self.store.read("pending_spans", prev, PENDING_SPANS_SCHEMA)
        pend_state = self.store.read("pending_state", prev, PENDING_STATE_SCHEMA)
        dec_state = self.store.read("decision_state", prev, DECISION_STATE_SCHEMA)

        # oldest-first (lru.Keys() order, processor.go:549-561) ≈ arrival order
        flushed = (
            pend_spans.join(pend_state.select("doc_id", "arrival_batch"), "doc_id", "left")
            .orderBy("arrival_batch", "doc_id")
            .select(
                *PASSTHROUGH,
                F.lit(None).cast("string").alias("policy"),
                F.lit("flush").alias("reason"),
                # atlassiansampling.flushes incremented (processor.go:591-603)
                (F.coalesce(F.col("flushes"), F.lit(0)) + 1).cast("int").alias("flushes_out"),
                F.lit("keep").alias("sink"),
            )
        )
        counts = self._write_routed(b, flushed)
        # the row count rides the export's own write (one job, one
        # decision_state resolve), like _write_routed's counts
        obs = Observation(f"decision_export_{b}")
        dec_state.select(
            "doc_id",
            (F.col("decision") == D.SAMPLED).alias("decision_value"),
            "policy",
            "decided_batch",
        ).observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
            f"{self.out}/decision_export/batch={b}"
        )
        n_dec = int(obs.get["n"] or 0)

        for table in ("pending_state", "pending_spans", "decision_state"):
            self.store.truncate(table, b)
        self.store.write("metrics", b, [])
        self.store.commit(b)
        return {"flushed_rows": counts["kept"], "decision_rows": n_dec}


def placeholder_tokens(batch_idx: int):
    """Token header for the TRACE NOT SAMPLED placeholder span, built as a
    pure column expression from the decided row's trace id. Deterministic
    stand-ins: span_id = xxhash64(doc_id, batch), timestamps = batch-based
    (now−1s, now) per processor.go:523-531; no attrs (sampling.policy is
    carried as a column).
    """
    from .datagen import BASE_NS

    start = BASE_NS + batch_idx * 1_000_000_000
    return header_column(
        trace_hi=F.col("trace_hi"),
        trace_lo=F.col("trace_lo"),
        span_id=F.xxhash64(F.col("doc_id"), F.lit("placeholder"), F.lit(batch_idx)),
        start_ts=start,
        end_ts=start + 1_000_000_000,
        name_id=codec.NAMES.index("TRACE NOT SAMPLED"),
    )
