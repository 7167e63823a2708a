"""Micro-batch sampling pipeline: parse → enrich → decide → route → aggregate.

One ``process_batch`` call is the Spark re-expression of the reference's
``ConsumeTraces`` hot path (processor.go:239-406) over a whole arrival
slice at once:

  parse (vectorized)                      ConsumeTraces entry
  decision-span ingest                    processor.go:436-480
  decision_state join → early release     earlyDecisionChecks processor.go:408-430
  groupBy(doc_id) agg                     NewTraceData metadata (tracedata.go:24-62)
  left join pending_state + merge exprs   Metadata.MergeWith (metadata.go:29-39)
  ordered when/coalesce decision chain    decider.MakeDecision (decider.go:41-81)
  one routing pass over the arrivals      processor.go:369-404, 515-536
  window-rank capacity eviction           tiered_cache.go:41-49 + lru eviction
  state write + atomic commit             resumability (DESIGN.md:148-167)

Scale notes (100 TB / 1000 executors):
* The token payload is never shuffled: the per-trace agg shuffles only
  pruned numeric columns (partial aggregation map-side), and routing
  joins broadcast the small per-trace decision tables. The reference's
  shard co-location (util.go:42-49) is the agg's hash partitioning.
* Routing scans each arrival slice once: one frame reads the header
  check and two header slots (decision-span flag, flush count), joins
  the early-decision state and the per-trace outcomes, and one ``when``
  chain gives every span its (sink, reason, policy). The pending-spans
  inserts are the same frame's still-pending rows. Nothing on the
  decide path runs Python (the probabilistic hash is a Catalyst
  expression), so a batch starts no Python worker.
* State joins are on doc_id; with Iceberg/bucketed state tables they're
  co-partitioned and shuffle-free. Here (plain parquet) AQE picks
  broadcast when state is small.
* Capacity eviction ranks per tier; the ranked input is bounded by
  (capacity + batch trace count) per tier, so the single-partition
  window is bounded, not O(corpus). For very large capacities, swap to
  a two-level rank (per-partition top-K then global).
* Micro-batch fixed cost is the per-batch Spark job count and the
  driver's planning time, not the rows. A batch runs ONE serial counters
  action (an aggregation over the per-trace decisions that yields every
  driver-side counter and plans both cache evictions), then five
  concurrent output jobs: ONE partitioned write for all three sinks with
  Observation-counted rows, one write per state table (a direct base
  write when compaction is due) and the drift guard. State reads are
  schema-bound (no inference job) and the metrics table is written on
  the driver. The per-trace frames are local-checkpointed, so later
  plans scan them instead of re-planning the parse/aggregate lineage.
  Measured on a 4-CPU VM, trickle-shaped batch (1.5k traces, evicting
  caches, compaction every batch, perfbench traced): 65 Spark jobs per
  batch before the counters action and direct compaction, 26–27 after,
  24 with one-pass routing (``tests/test_batch_commit.py`` holds its
  tiny trickle-shaped batch to 24).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import codec
from . import decision as D
from .aggregate import aggregate_batch, merge_with_pending, with_hash_columns
from .config import EngineConfig
from .decider import make_decision, post_decision_state
from .parse import enrich_core, enrich_spans, parse_sequences, routing_fields
from .policies import Policy
from .state import (
    DECISION_STATE_SCHEMA,
    PENDING_SPANS_SCHEMA,
    PENDING_STATE_SCHEMA,
    StateStore,
)
from .state import empty_frame as _empty

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
        t_batch0 = time.perf_counter()
        prev = self.store.last_committed_batch()
        pend_state = self.store.read("pending_state", prev, PENDING_STATE_SCHEMA)
        pend_spans = self.store.read("pending_spans", prev, PENDING_SPANS_SCHEMA)
        # nop decision cache (nop_cache.go:11-40): Get always misses, so
        # the early-decision join sees an empty cache even on a checkpoint
        # that held decisions before a reconfigure to capacity 0
        nop_dec = (
            self.engine.sampled_cache_size == 0
            and self.engine.non_sampled_cache_size == 0
        )
        dec_state = (
            _empty(self.spark, DECISION_STATE_SCHEMA)
            if nop_dec
            else self.store.read("decision_state", prev, DECISION_STATE_SCHEMA)
        )
        # the epoch caches' per-epoch per-kind live counts and watermarks
        pcounts, pwm = self.store.epoch_meta("pending_state", prev)
        dcounts, dwm = ({}, {}) if nop_dec else self.store.epoch_meta("decision_state", prev)

        if "flushes" not in raw_batch.columns:
            raw_batch = raw_batch.withColumn("flushes", F.lit(None).cast("int"))
        if "batch_idx" not in raw_batch.columns:
            raw_batch = raw_batch.withColumn("batch_idx", F.lit(b))

        # Parse is a narrow map (expression decoder); the per-trace agg
        # shuffles only the pruned numeric columns, and the small per-trace
        # decision/state tables broadcast (64MB threshold) — the token
        # payload itself is never shuffled. (The reference's
        # shardIDForTrace co-location, util.go:42-49, maps to the agg's
        # hash partitioning on doc_id.) String/map enrichment (attrs,
        # names) is only materialized when a configured policy actually
        # reads it (OTTL); the numeric core carries everything else.
        enrich = enrich_spans if self._needs_span_strings() else enrich_core
        # no persist: the decision-span ingest, the aggregate and the
        # routing frame each column-prune their own scan of the
        # (page-cached) batch parquet, which beats materializing the full
        # token payload into the block store
        # internal-error guard (reportTraceDataErr, processor.go:676-680):
        # rows whose token header fails validation can't be decoded —
        # routed to the drop sink with reason=internal_error and counted
        # into internal_error_dropped_spans (the reference drops silently;
        # a sink row keeps our conservation invariant auditable). The
        # filter sits BELOW the decoder so ANSI element_at never sees a
        # short array.
        valid = F.coalesce(
            (F.size("tokens") >= codec.HEADER_LEN)
            & (F.try_element_at("tokens", F.lit(1)) == codec.MAGIC)
            & (F.try_element_at("tokens", F.lit(2)) == codec.VERSION),
            F.lit(False),  # NULL (e.g. null tokens) counts as invalid
        )
        spans = enrich(parse_sequences(raw_batch.filter(valid)))
        reg = spans.filter(~F.col("is_decision_span"))
        dec_spans = spans.filter(F.col("is_decision_span"))

        # -- 1. decision-span ingest (processor.go:436-480): first decision
        # per trace wins; conflicts with existing decision_state ignored.
        # Within-batch tiebreak: lowest span_id (the reference's "first
        # processed" is shard-arrival order; see SURVEY.md §7 hard part b).
        new_dec_from_spans = (
            dec_spans.groupBy("doc_id")
            .agg(F.min_by("decision_value", "span_id").alias("dv"))
            .join(dec_state.select("doc_id"), "doc_id", "left_anti")
            .select(
                "doc_id",
                F.when(F.col("dv"), F.lit(D.SAMPLED)).otherwise(F.lit(D.NOT_SAMPLED)).alias("decision"),
                F.lit(DECISION_SPAN_POLICY).alias("policy"),
                F.lit(b).alias("decided_batch"),
            )
        )
        new_dec_from_spans = _checkpoint(new_dec_from_spans)
        dec_state_mid = dec_state.unionByName(new_dec_from_spans)

        # -- 2. early decision check (processor.go:408-430): only traces
        # with no decision yet are evaluated; the routing frame (step 6)
        # releases or drops the late spans of decided ones.
        to_eval = reg.join(dec_state_mid.select("doc_id"), "doc_id", "left_anti")

        decspan_sampled = new_dec_from_spans.filter(F.col("decision") == D.SAMPLED).select("doc_id")
        decspan_notsampled = new_dec_from_spans.filter(
            F.col("decision") == D.NOT_SAMPLED
        ).select("doc_id")

        # -- 3. evaluate remaining traces
        agg = aggregate_batch(to_eval, self.policies, b, salt_buckets=self.engine.salt_buckets)
        merged = merge_with_pending(agg, pend_state)
        merged = with_hash_columns(merged, self.policies)
        # per-trace frames (O(batch traces)) are local-checkpointed: the
        # counters action materializes them once, and every later plan
        # scans the blocks instead of re-analyzing the parse/aggregate/
        # decide lineage — on a trickle batch that driver-side planning,
        # not the rows, was most of the wall. (A lost executor fails the
        # batch, which replays from the last commit.)
        decided = _checkpoint(
            post_decision_state(make_decision(merged, self.policies), self.policies)
        )

        sampled = decided.filter(F.col("decision") == D.SAMPLED)
        not_sampled = decided.filter(F.col("decision") == D.NOT_SAMPLED)
        pending = decided.filter(F.col("decision").isin(D.PENDING, D.LOW_PRIORITY))

        sampled_keys = sampled.select("doc_id", "policy")
        not_sampled_keys = not_sampled.select("doc_id", "policy")

        # -- 4. pending-state rewrite (puts before eviction,
        # tiered_cache.go:41-49). `decided` carries exactly the batch's
        # evaluated trace keys (row-preserving over the agg) and is
        # checkpointed — reading it beats recomputing the agg lineage in
        # every downstream join that needs the touched key set.
        touched = decided.select("doc_id").unionByName(
            new_dec_from_spans.select("doc_id")
        )
        updated = pending.select(
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

        # -- 5. capacity eviction per tier (lru_cache.go:94-99): rows past
        # capacity evict ⇒ NotSampled (processor.go:626-658), keep-order
        # desc(last_seen_batch, arrival_batch, doc_id). The pending cache
        # is a FIFO-by-last_seen-epoch store like the decision caches —
        # recency refreshes are delta-shaped MOVES (touched rows leave
        # their old epoch + re-enter epoch b), so per-epoch per-tier live
        # counts are pure driver arithmetic and eviction is a watermark
        # advance plus at most one boundary-epoch partial read per tier.
        # The victim key-set equals the recency rank's (tested
        # differentially in tests/test_round5_pending_epochs.py and
        # against the independent simulator in tests/test_differential.py).
        tier = D.tier_of(F.col("priority"))
        tidx = {t: i for i, t in enumerate(D.TIERS)}
        caps_pend = {
            "primary": self.engine.primary_capacity(),
            "secondary": self.engine.secondary_cache_size,
        }

        # delta-shaped epoch moves: touched pending rows leave their old
        # epochs (their keys also become this batch's evict keys), updated
        # rows enter epoch b. The evaluated traces' old rows come straight
        # from the checkpointed decision frame (the merge already joined
        # them — cached_* columns), so the eviction step performs NO
        # full-capacity scan; only the decision-span ingest path needs a
        # pending_state key lookup (broadcast of the tiny ingest set).
        hit = F.col("cached_span_count").isNotNull()
        ds_moved = _checkpoint(
            pend_state.join(
                F.broadcast(new_dec_from_spans.select("doc_id")), "doc_id", "leftsemi"
            ).select("doc_id", "last_seen_batch", "priority")
        )
        moved = (
            decided.filter(hit)
            .select(
                "doc_id",
                F.col("cached_last_seen_batch").alias("last_seen_batch"),
                F.col("cached_priority").alias("priority"),
            )
            .unionByName(ds_moved)
        )

        # ONE counters action — the batch's only serial driver sync before
        # the output jobs. A single aggregation over the checkpointed
        # `decided` frame, the decision-span ingest and its pending moves
        # yields, grouped small: the pending epoch moves (-1 at the old
        # epoch, +1 at epoch b), the policy_decisions / decision_from
        # counts (decider.go:60-74), cache_reads hits (lru_cache.go:49-58),
        # per-policy evaluation errors and the decision-span counts. It
        # also materializes `decided`, `new_dec_from_spans` and `ds_moved`
        # for every later job.
        from .decider import decision_from_column

        decisive = F.col("decision").isin(*D.DECISIVE)
        # policy-error telemetry: traces whose evaluation errored (decision
        # Unspecified) per TOP-LEVEL policy — the reference's
        # log-and-continue warning (decider.go:46-48), which fires for ANY
        # evaluator error, including a propagate OTTL nested inside
        # and/root_spans/downgrader (the sub's Unspecified propagates to
        # the composite's decision). Only policies the decider actually
        # evaluated count (i ≤ decisive index), matching the loop.
        err_flags = [
            (
                (F.col("policy_index").isNull() | (F.lit(i) <= F.col("policy_index")))
                & (F.element_at("policy_decisions", i + 1) == D.UNSPECIFIED)
            ).cast("long").alias(f"_e{i}")
            for i in range(len(self.policies))
        ]
        no_err = [F.lit(0).cast("long").alias(f"_e{i}") for i in range(len(self.policies))]
        null_s, null_i = F.lit(None).cast("string"), F.lit(None).cast("int")
        counter_rows = (
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
            )
            .unionByName(
                new_dec_from_spans.select(
                    F.lit("span").alias("src"), "decision", null_s.alias("policy"),
                    null_s.alias("decision_from"), null_i.alias("old_e"),
                    null_s.alias("old_t"), null_s.alias("new_t"), *no_err,
                )
            )
            .unionByName(
                ds_moved.select(
                    F.lit("moved").alias("src"), null_i.alias("decision"),
                    null_s.alias("policy"), null_s.alias("decision_from"),
                    F.col("last_seen_batch").alias("old_e"),
                    D.tier_of(F.col("priority")).alias("old_t"), null_s.alias("new_t"),
                    *no_err,
                )
            )
            .groupBy("src", "decision", "policy", "decision_from", "old_e", "old_t", "new_t")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(f"_e{i}").alias(f"_e{i}") for i in range(len(self.policies))],
            )
            .collect()
        )
        dec_counts: dict[tuple, int] = {}
        ds_counts: dict[int, int] = {}
        err_counts = {p.name: 0 for p in self.policies}
        n_eval = hits = n_moved = 0
        for r in counter_rows:
            n = int(r["n"])
            if r["old_e"] is not None:
                pcounts.setdefault(int(r["old_e"]), [0, 0])[tidx[r["old_t"]]] -= n
                n_moved += n
            if r["src"] == "span":
                ds_counts[r["decision"]] = ds_counts.get(r["decision"], 0) + n
            if r["src"] != "eval":
                continue
            n_eval += n
            hits += n if r["old_e"] is not None else 0
            if r["new_t"] is not None:
                pcounts.setdefault(b, [0, 0])[tidx[r["new_t"]]] += n
            if r["decision"] in D.DECISIVE:
                key = (r["policy"], r["decision"], r["decision_from"])
                dec_counts[key] = dec_counts.get(key, 0) + n
            for i, p in enumerate(self.policies):
                err_counts[p.name] += int(r[f"_e{i}"] or 0)
        n_sampled = sum(n for (p, d, g), n in dec_counts.items() if d == D.SAMPLED)
        n_not_sampled = sum(n for (p, d, g), n in dec_counts.items() if d == D.NOT_SAMPLED)

        old_pwm = dict(pwm)
        pre_counts = {e: list(c) for e, c in pcounts.items()}
        partial_pend, planned_ev = plan_decision_eviction(
            pcounts, pwm, caps_pend, b, kinds=D.TIERS
        )
        n_evicted = sum(n for n, _ in planned_ev.values())

        def pend_slice(e: int) -> DataFrame:
            """Live tier rows of one last_seen epoch as of this batch:
            epoch b is the in-memory `updated` set; older epochs read ONE
            epoch file/partition and drop this batch's moved rows."""
            if e == b:
                return updated
            return self.store.read_epoch_slice(
                "pending_state", prev, e, PENDING_STATE_SCHEMA
            ).join(F.broadcast(touched), "doc_id", "left_anti")

        def ev_part(df: DataFrame, t: str, e: int) -> DataFrame:
            return df.select(
                "doc_id", F.lit(t).alias("tier"), "arrival_batch", F.lit(e).alias("ev_epoch")
            )

        evicted_full = None
        ev_parts = []
        for t in D.TIERS:
            lo, hi = old_pwm.get(t, -1), pwm.get(t, -1)
            for e in sorted(
                e for e in pre_counts if lo < e <= hi and pre_counts[e][tidx[t]] > 0
            ):
                ev_parts.append(ev_part(pend_slice(e).filter(tier == t), t, e))
        for t, e, k in partial_pend:
            # boundary-epoch partial eviction: the k lowest
            # (arrival_batch, doc_id) — exactly the recency rank's victims
            ev_parts.append(ev_part(
                pend_slice(e).filter(tier == t).orderBy("arrival_batch", "doc_id").limit(k),
                t, e,
            ))
        if not ev_parts:
            evicted = _empty(self.spark, "doc_id string, tier string")
        else:
            evicted_full = ev_parts[0]
            for part in ev_parts[1:]:
                evicted_full = evicted_full.unionByName(part)
            evicted_full = _checkpoint(evicted_full)
            evicted = evicted_full.select("doc_id", "tier")
        # the pending removal keys: moved rows' old epochs plus every
        # eviction victim's (doc_id, epoch) — victims in epoch b are
        # written with the epoch and killed by their key, one anti-join
        # for both (whole-epoch victims' keys are redundant with the
        # watermark but harmless — O(batch) either way)
        removal = moved.select("doc_id", "last_seen_batch") if n_moved else None
        if evicted_full is not None:
            ev_keys = evicted_full.select("doc_id", F.col("ev_epoch").alias("last_seen_batch"))
            removal = ev_keys if removal is None else removal.unionByName(ev_keys)

        # -- 6. route everything to one partitioned sink write. Each span
        # is released once, after its trace's one decision
        # (processor.go:369-404): ONE frame over the arrival slice joins
        # the early-decision state and the broadcast per-trace outcomes,
        # and one `when` chain gives each span its (sink, reason, policy).
        # Still-pending spans get sink "pending" (the pending_spans
        # inserts); consumed decision spans get none.
        def status(sink, reason, policy=F.lit(None).cast("string")):
            return F.struct(
                F.lit(sink).alias("sink"), F.lit(reason).alias("reason"), policy.alias("policy")
            )

        is_decision_span, header_flushes = routing_fields(valid)
        evicted_pol = F.lit(EVICTION_POLICY)
        prior, d, tier_c = F.col("_prior"), F.col("_d"), F.col("tier")
        route = (
            F.when(~valid, status("drop", "internal_error"))
            .when(is_decision_span, None)
            .when(prior == D.SAMPLED, status("keep", "late_sampled"))
            .when(prior == D.NOT_SAMPLED, status("drop", "late_not_sampled"))
            .when(d == D.SAMPLED, status("keep", "sampled", F.col("_p")))
            .when(d == D.NOT_SAMPLED, status("drop", "not_sampled", F.col("_p")))
            .when(tier_c == "primary", status("drop", "evicted_primary", evicted_pol))
            .when(tier_c == "secondary", status("low_priority", "evicted_secondary", evicted_pol))
            .when(d.isin(D.PENDING, D.LOW_PRIORITY), status("pending", None))
        )
        arrivals = (
            raw_batch.join(
                dec_state_mid.select("doc_id", F.col("decision").alias("_prior")), "doc_id", "left"
            )
            .join(F.broadcast(decided.select(
                "doc_id", F.col("decision").alias("_d"), F.col("policy").alias("_p")
            )), "doc_id", "left")
            .join(F.broadcast(evicted), "doc_id", "left")
            .select(
                *PASSTHROUGH[:-1],
                # the header's flush count (-1 ⇒ absent) for decodable rows,
                # the input column for undecodable ones
                F.when(valid, header_flushes).otherwise(F.col("flushes")).alias("flushes"),
                route.alias("_r"),
            )
            .filter(F.col("_r").isNotNull())
        )
        pending_inserts = arrivals.filter(F.col("_r.sink") == "pending").select(*PASSTHROUGH)

        # disjoint per-trace outcomes for the cached payload: a sampled /
        # not-sampled doc has payload only in old pend_spans; an evicted doc
        # may have payload in either (its arrivals route above)
        def outcome(keys, *st):
            return keys.select("doc_id", status(*st).alias("_r"))

        ds_pol = F.lit(DECISION_SPAN_POLICY)
        outcomes = (
            outcome(sampled_keys, "keep", "sampled_cached", F.col("policy"))
            .unionByName(outcome(not_sampled_keys, "drop", "not_sampled_cached", F.col("policy")))
            .unionByName(outcome(decspan_sampled, "keep", "decision_span_release", ds_pol))
            .unionByName(outcome(decspan_notsampled, "drop", "decision_span_drop", ds_pol))
            .unionByName(outcome(
                evicted.filter(F.col("tier") == "primary"), "drop", "evicted_primary", evicted_pol
            ))
            .unionByName(outcome(
                evicted.filter(F.col("tier") == "secondary"),
                "low_priority", "evicted_secondary", evicted_pol,
            ))
        )
        cached_routed = pend_spans.join(F.broadcast(outcomes), "doc_id", "inner").select(
            *PASSTHROUGH, "_r"
        )
        routed = (
            arrivals.filter(F.col("_r.sink") != "pending")
            .unionByName(cached_routed)
            .select(
                *PASSTHROUGH, "_r.policy", "_r.reason",
                F.lit(None).cast("int").alias("flushes_out"), "_r.sink",
            )
        )
        # not-sampled placeholder rows (processor.go:517-533)
        emit_names = [n for n, v in self._emit_placeholder.items() if v]
        if emit_names:
            ph = not_sampled.filter(F.col("policy").isin(emit_names)).select(
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
            routed = routed.unionByName(ph)
        # sampled forward strips the flush-count attr (processor.go:497-503
        # sendSampledTraceData) — kept rows carry flushes = NULL; the
        # shutdown flush path (flush()) is the one that sets it
        routed = routed.withColumn(
            "flushes",
            F.when(F.col("sink") == "keep", F.lit(None).cast("int")).otherwise(
                F.col("flushes")
            ),
        )

        # -- 7. decision state derivations (lazy — actions below)
        new_decisions = (
            sampled.select(
                "doc_id", F.lit(D.SAMPLED).alias("decision"), "policy", F.lit(b).alias("decided_batch")
            )
            .unionByName(
                not_sampled.select(
                    "doc_id", F.lit(D.NOT_SAMPLED).alias("decision"), "policy",
                    F.lit(b).alias("decided_batch"),
                )
            )
            .unionByName(
                evicted.select(
                    "doc_id", F.lit(D.NOT_SAMPLED).alias("decision"),
                    F.lit(EVICTION_POLICY).alias("policy"), F.lit(b).alias("decided_batch"),
                )
            )
            .unionByName(new_dec_from_spans)
        )
        # live pending total: driver arithmetic (the plan mutated pcounts
        # in place), no full-set count job
        n_pending = sum(live_counts(pcounts, pwm, D.TIERS).values())

        # Decision caches (two FIFO caches over immutable first-wins
        # decisions, processor.go:142-148). LRU order ≡ insertion order
        # because decisions are never recency-refreshed, so capacity
        # eviction is a pure driver-side watermark advance over
        # `decided_batch` epochs — O(1) per batch, no job — plus at most
        # one O(boundary-epoch) partial eviction. The per-epoch per-kind
        # counts ride the versioned evmeta JSON; the evicted key-set is
        # identical to a full-table keep-order rank (asserted in
        # tests/test_round4_epochs.py). The plan needs only counters the
        # driver already holds, so it runs before the output jobs.
        dec_ev_age: dict[int, tuple[int, int]] = {}
        partial_req: list[tuple[int, int, int]] = []
        victims = None
        if not nop_dec:
            c = dcounts.setdefault(b, [0, 0])
            c[0] += n_sampled + ds_counts.get(D.SAMPLED, 0)
            c[1] += n_not_sampled + n_evicted + ds_counts.get(D.NOT_SAMPLED, 0)
            caps = {
                D.SAMPLED: self.engine.sampled_cache_size,
                D.NOT_SAMPLED: self.engine.non_sampled_cache_size,
            }
            partial_req, dec_ev_age = plan_decision_eviction(dcounts, dwm, caps, b)
            if partial_req:
                # ONE epoch per request (this batch's rows, or an older
                # epoch's append file / base partition), never the capacity
                parts = [
                    (new_decisions if e == b else self.store.read_epoch_slice(
                        "decision_state", prev, e, DECISION_STATE_SCHEMA
                    ))
                    .filter(F.col("decision") == kind)
                    .orderBy("doc_id")
                    .limit(k)
                    .select("doc_id", "decided_batch")
                    for kind, e, k in partial_req
                ]
                victims = parts[0]
                for part in parts[1:]:
                    victims = victims.unionByName(part)
                victims = _checkpoint(victims)
        dec_live = live_counts(dcounts, dwm, D.CACHED_KINDS)
        n_victims = sum(k for _, _, k in partial_req)

        # -- 8. run the batch's independent output jobs CONCURRENTLY. The
        # sink write, the three state writes and the drift guard share no
        # data dependencies (everything they read — `decided`, `evicted`,
        # `new_dec_from_spans` — is checkpointed or upstream-complete), so
        # submitting them from threads lets the scheduler interleave their
        # tasks and overlaps each job's driver-side planning with the
        # others' execution. Sequential submission made this latency
        # strictly additive — ~half the batch's wall at high core counts
        # was the driver waiting between jobs.
        from concurrent.futures import ThreadPoolExecutor

        def job_routed():
            return self._write_routed(b, routed)

        def job_pending_state():
            # O(delta) epoch commit: epoch b = this batch's pending rows;
            # removal keys = moved and evicted rows' (doc_id,
            # last_seen_batch) pairs; watermarks + per-epoch counts ride the
            # versioned evmeta — or, when compaction is due, one direct
            # base write. The reference's in-place cache puts
            # (lru_cache.go:63-71) cost O(1) per touch; this is the
            # snapshot-isolation equivalent, O(1)-in-capacity on the
            # eviction side too.
            self.store.write_epoch_batch(
                "pending_state", b, prev,
                rows=updated, removal=removal, counts=pcounts, wm=pwm,
            )

        def job_pending_spans():
            # payload is append-only while pending: new rows insert with NO
            # tombstone (older payload of the same trace must survive);
            # terminal/evicted traces tombstone all their rows
            self.store.write_delta(
                "pending_spans",
                b,
                prev,
                inserts=pending_inserts,
                tombstone_keys=outcomes.select("doc_id"),
                schema=PENDING_SPANS_SCHEMA,
            )

        def job_guard() -> dict[str, int]:
            """Fail-loud drift guard: the stored epochs must yield exactly
            the evictions the driver-side counts planned — silent drift
            would evict the wrong rows. One scan of the (O(batch)) victim
            sets, collected like a broadcast, no shuffle; also yields the
            pending eviction AGE per tier (batches since arrival —
            trace_eviction_time, processor.go:653-663)."""
            parts = []
            if evicted_full is not None:
                parts.append(evicted_full.select("tier", (F.lit(b) - F.col("arrival_batch")).alias("age")))
            if victims is not None:
                parts.append(victims.select(F.lit(_DEC_VICTIMS).alias("tier"), F.lit(0).alias("age")))
            if not parts:
                return {}
            rows = parts[0]
            for part in parts[1:]:
                rows = rows.unionByName(part)
            got: dict[str, list[int]] = {}
            for r in rows.collect():
                g = got.setdefault(r["tier"], [0, 0])
                g[0] += 1
                g[1] += r["age"]
            got_ev = {t: n for t, (n, _) in got.items() if t != _DEC_VICTIMS}
            want_ev = {t: n for t, (n, _) in planned_ev.items() if n}
            if got_ev != want_ev:
                raise RuntimeError(
                    f"pending epoch-count drift at batch {b}: planned "
                    f"evictions {want_ev}, stored epochs yielded {got_ev}"
                )
            got_victims = got.get(_DEC_VICTIMS, [0, 0])[0]
            if got_victims != n_victims:
                raise RuntimeError(
                    f"decision epoch-count drift at batch {b}: planned "
                    f"{n_victims} partial evictions, stored epochs yielded {got_victims}"
                )
            return {t: age for t, (_, age) in got.items() if t != _DEC_VICTIMS}

        def job_decision_state():
            if nop_dec:
                # nop decision cache (nop_cache.go:11-40): decisions are
                # never remembered — late spans of a decided trace
                # re-evaluate from scratch next batch. Truncating at every
                # batch makes a checkpoint that held decisions before a
                # reconfigure forget them.
                self.store.truncate("decision_state", b)
            else:
                self.store.write_epoch_batch(
                    "decision_state", b, prev,
                    rows=new_decisions, removal=victims, counts=dcounts, wm=dwm,
                )

        # pool threads inherit the caller's job group and description, so
        # every job of the batch is attributed to it (UI, event log, tests)
        with ThreadPoolExecutor(max_workers=5) as ex:
            f_routed, f_pend_state, f_pend_spans, f_dec, f_guard = (
                ex.submit(inheritable_thread_target(self.spark)(job))
                for job in (
                    job_routed, job_pending_state, job_pending_spans,
                    job_decision_state, job_guard,
                )
            )
            sink_counts = f_routed.result()
            f_pend_state.result()
            f_pend_spans.result()
            f_dec.result()
            ev_age = f_guard.result()

        res = BatchResult(
            batch_idx=b,
            kept=sink_counts["kept"],
            dropped=sink_counts["dropped"],
            low_evicted=sink_counts["low"],
            sampled_traces=n_sampled,
            not_sampled_traces=n_not_sampled,
            evicted_traces=n_evicted,
            pending_traces=n_pending,
        )
        self.store.write(
            "metrics",
            b,
            self._metrics_rows(
                b,
                dec_counts,
                res,
                hits=hits,
                misses=n_eval - hits,
                internal_errors=sink_counts["interr"],
                ev_age=ev_age,
                dec_ev_age=dec_ev_age,
                batch_wall_ms=int((time.perf_counter() - t_batch0) * 1000),
                err_counts=err_counts,
            ),
        )
        self.store.commit(b, meta={
            "dec_sampled": dec_live[D.SAMPLED], "dec_not_sampled": dec_live[D.NOT_SAMPLED],
        })

        for df in (decided, new_dec_from_spans, ds_moved, evicted_full, victims):
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
        dec_export = dec_state.select(
            "doc_id",
            (F.col("decision") == D.SAMPLED).alias("decision_value"),
            "policy",
            "decided_batch",
        )
        dec_export.write.mode("overwrite").parquet(f"{self.out}/decision_export/batch={b}")
        n_dec = dec_export.count()

        for table in ("pending_state", "pending_spans", "decision_state"):
            self.store.truncate(table, b)
        self.store.write("metrics", b, [])
        self.store.commit(b)
        return {"flushed_rows": counts["kept"], "decision_rows": n_dec}


def placeholder_tokens(batch_idx: int):
    """Token header for the TRACE NOT SAMPLED placeholder span, built as a
    pure column expression from the decided row's trace id. Deterministic
    stand-ins: span_id = xxhash64(doc_id, batch), timestamps = batch-based
    (now−1s, now) per processor.go:523-531.
    """
    from .datagen import BASE_NS

    hi, lo = F.col("trace_hi"), F.col("trace_lo")
    span_id = F.xxhash64(F.col("doc_id"), F.lit("placeholder"), F.lit(batch_idx))
    start = BASE_NS + batch_idx * 1_000_000_000
    end = start + 1_000_000_000

    def chunks16(col):
        return [
            F.shiftrightunsigned(col, 16 * (3 - i)).bitwiseAND(F.lit(0xFFFF)).cast("int")
            for i in range(4)
        ]

    name_id = codec.NAMES.index("TRACE NOT SAMPLED")
    parts = (
        [F.lit(codec.MAGIC), F.lit(codec.VERSION)]
        + chunks16(hi)
        + chunks16(lo)
        + chunks16(span_id)
        + [F.lit(0)] * 4  # parent = 0
        + chunks16(F.lit(start))
        + chunks16(F.lit(end))
        + [
            F.lit(0),  # status UNSET
            F.lit(0),  # no threshold
            F.lit(0), F.lit(0), F.lit(0), F.lit(0),
            F.lit(name_id),
            F.lit(0),  # not a decision span
            F.lit(0),
            F.lit(-1),  # flushes absent
            F.lit(-1),  # no event
            F.lit(0),  # no attrs (sampling.policy carried as a column)
            F.lit(0),  # source id placeholder
            F.lit(-1),
        ]
    )
    assert len(parts) == codec.HEADER_LEN
    return F.array(*parts)
