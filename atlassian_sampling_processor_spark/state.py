"""Checkpointed state tables (FIXTURES.md §6) — the Spark mapping of the
reference's four LRU caches (processor.go:53-59, DESIGN.md:110-138).

The reference mutates its caches in place (internal/cache/lru_cache.go:
63-71), so its per-put cost is O(1); rewriting a Spark table every batch
would cost O(capacity), hopeless at the reference-realistic 10^7–10^8
decision-cache sizes (README.md:65-77). So every table has exactly one
O(delta)-per-batch layout, and ``read`` dispatches on the table:

* ``pending_state``, ``decision_state`` — FIFO epoch stores (see the
  epoch-layout comment below): per-batch epoch appends, removal keys and
  a versioned evmeta JSON of watermarks and per-epoch counts.
* ``pending_spans`` — a merge-on-read chain::

      {ckpt}/pending_spans/base/v={B}/*.parquet    full snapshot (compaction)
      {ckpt}/pending_spans/delta/v={b}/*.parquet   per-batch delta, b > B

  A delta holds the batch's *inserted rows* (``_deleted=false``) and
  *tombstoned keys* (``_deleted=true``, key column only). ``read``
  resolves the chain lazily: union(base, deltas) with a per-part ``_v``
  version column, then an anti-ish join against the aggregated tombstone
  set (tiny — O(K·delta) keys, broadcast) keeps a row iff no tombstone
  for its key has a strictly newer version (``_v >= _tv``; an upsert
  writes tombstone+insert at the same version, so the fresh row survives
  its own tombstone). Every ``compact_every`` batches the chain is folded
  into a new base — amortized O(capacity/K), the Iceberg MERGE-on-read +
  periodic rewrite shape; on a production cluster these directories ARE
  an Iceberg table and the delta write is a ``MERGE INTO`` commit.
* ``metrics`` — a per-batch log ``{ckpt}/metrics/v={b}/``, written on
  the driver with pyarrow.

A base at version ``B`` shadows every delta, epoch and evict directory
at or below ``B``, so ``truncate`` (an empty base, plus an empty evmeta
on an epoch table) empties a table as of one version: flush() and the
nop decision cache use it.

Atomicity: an atomically-renamed ``LATEST`` marker commits all tables of
a batch at once, so a kill mid-batch leaves only uncommitted ``v=``
directories that the next (idempotent, deterministic) replay overwrites —
the reference's decision-span flush/re-ingest resumability story
(DESIGN.md:148-167) done with snapshots.

Every read is schema-bound (``spark.read.schema(S).parquet``): a
schemaless parquet read starts a Spark job to infer the footer schema,
and the store always knows each table's schema, so resolving state
starts no job at all.
"""

from __future__ import annotations

import functools
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import decision as D

PENDING_STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("trace_hi", T.LongType()),
        T.StructField("trace_lo", T.LongType()),
        T.StructField("span_count", T.IntegerType()),
        T.StructField("min_start", T.LongType()),
        T.StructField("max_end", T.LongType()),
        T.StructField("arrival_batch", T.IntegerType()),
        T.StructField("last_seen_batch", T.IntegerType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("last_low_policy", T.StringType()),
        T.StructField("first_source", T.StringType()),
    ]
)

DECISION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("decision", T.IntegerType()),  # 2=Sampled, 3=NotSampled
        T.StructField("policy", T.StringType()),
        T.StructField("decided_batch", T.IntegerType()),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("batch_idx", T.IntegerType()),
        T.StructField("metric", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("value", T.LongType()),
    ]
)

PENDING_SPANS_SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string, batch_idx int, flushes int"
)

TABLE_SCHEMAS = {
    "pending_state": PENDING_STATE_SCHEMA,
    "pending_spans": PENDING_SPANS_SCHEMA,
    "decision_state": DECISION_STATE_SCHEMA,
    "metrics": METRICS_SCHEMA,
}
TABLES = tuple(TABLE_SCHEMAS)
EPOCH_TABLES = ("pending_state", "decision_state")

_DEL = "_deleted"
_V = "_v"


def _kind_key(k: str):
    """evmeta JSON wm keys → native kind values (decision kinds are ints,
    pending tiers are strings)."""
    try:
        return int(k)
    except ValueError:
        return k


def _struct(schema) -> T.StructType:
    """A StructType from a StructType or a DDL schema string."""
    return schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)


def _field_names(schema) -> list[str]:
    return _struct(schema).fieldNames()


def _conform(df: DataFrame, schema) -> DataFrame:
    """``df`` projected and cast to ``schema``, so every file a table holds
    carries exactly the types its schema-bound reads declare."""
    return df.select(*[F.col(f.name).cast(f.dataType) for f in _struct(schema).fields])


def _write_arrow(path: str, rows: list[tuple], schema) -> None:
    """Driver-side parquet write of rows already on the driver — no Spark
    job. Written into a sibling temp dir, then renamed into place."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    st = _struct(schema)
    cols = list(zip(*rows)) if rows else [()] * len(st.fields)
    table = pa.Table.from_pydict(
        {f.name: list(c) for f, c in zip(st.fields, cols)},
        schema=to_arrow_schema(st),
    )
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """An empty frame that plans as an empty local relation. A bare
    ``createDataFrame([])`` is an RDD scan: every join or broadcast over
    it starts a Spark job; ``limit(0)`` lets the optimizer replace it by a
    local relation and prune the joins it feeds."""
    return spark.createDataFrame([], schema=schema).limit(0)


def union_all(parts: list[DataFrame]) -> DataFrame:
    """``unionByName`` over a non-empty list of frames."""
    return functools.reduce(DataFrame.unionByName, parts)


def _list_versions(d: str, suffix: str = "") -> dict[int, str]:
    """``{v: path}`` for the ``v=N{suffix}`` entries of ``d`` (missing → {})."""
    out: dict[int, str] = {}
    try:
        for name in os.listdir(d):
            if name.startswith("v=") and name.endswith(suffix):
                try:
                    out[int(name[2:len(name) - len(suffix)])] = os.path.join(d, name)
                except ValueError:
                    pass
    except FileNotFoundError:
        pass
    return out


class StateStore:
    def __init__(self, spark: SparkSession, ckpt_dir: str, compact_every: int = 8):
        self.spark = spark
        self.dir = ckpt_dir
        # chain length that triggers folding deltas (or epochs) into a
        # new base; <=1 writes a base every batch
        self.compact_every = max(1, compact_every)
        os.makedirs(ckpt_dir, exist_ok=True)

    # -- commit protocol ----------------------------------------------------

    def _marker(self) -> str:
        return os.path.join(self.dir, "LATEST")

    def last_committed_batch(self) -> int | None:
        try:
            with open(self._marker()) as f:
                return json.load(f)["batch"]
        except FileNotFoundError:
            return None

    def last_meta(self) -> dict:
        """Driver-side state-size counters stored with the commit marker
        (the live decision-cache sizes after the batch)."""
        try:
            with open(self._marker()) as f:
                return json.load(f).get("meta", {})
        except FileNotFoundError:
            return {}

    def commit(self, batch: int, meta: dict | None = None) -> None:
        tmp = self._marker() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch": batch, "meta": meta or {}}, f)
        os.replace(tmp, self._marker())  # atomic

    # -- layout -------------------------------------------------------------

    def _log_path(self, table: str, batch: int) -> str:
        """One batch of a per-batch log table (metrics)."""
        return os.path.join(self.dir, table, f"v={batch}")

    def _base_path(self, table: str, batch: int) -> str:
        return os.path.join(self.dir, table, "base", f"v={batch}")

    def _delta_path(self, table: str, batch: int) -> str:
        return os.path.join(self.dir, table, "delta", f"v={batch}")

    def _floor(self, table: str, batch: int) -> int:
        """Newest base version ≤ ``batch`` (-1 if none)."""
        bases = _list_versions(os.path.join(self.dir, table, "base"))
        return max((v for v in bases if v <= batch), default=-1)

    def _above(self, table: str, sub: str, floor: int, batch: int) -> list[tuple[int, str]]:
        """``(v, path)`` of ``{table}/{sub}/v=`` dirs with floor < v ≤ batch.
        Directories with v > batch (crashed, uncommitted writes) are
        invisible — replay overwrites them deterministically."""
        return sorted(
            (v, p)
            for v, p in _list_versions(os.path.join(self.dir, table, sub)).items()
            if floor < v <= batch
        )

    def _chain(self, table: str, batch: int) -> tuple[tuple[int, str] | None, list[tuple[int, str]]]:
        """(base, deltas) visible at committed version ``batch``: the
        newest base ≤ batch and the delta versions in (base, batch]."""
        bv = self._floor(table, batch)
        base = (bv, self._base_path(table, bv)) if bv >= 0 else None
        return base, self._above(table, "delta", bv, batch)

    # -- write --------------------------------------------------------------

    def write(self, table: str, batch: int, rows: list[tuple]) -> None:
        """One batch of a per-batch log table (metrics): ``rows`` are row
        tuples already on the driver, written with pyarrow — no Spark
        job."""
        _write_arrow(self._log_path(table, batch), rows, TABLE_SCHEMAS[table])

    def truncate(self, table: str, batch: int) -> None:
        """Empty ``table`` as of ``batch``: an empty base at ``batch``
        shadows every older version (and replaces a ghost base a crashed
        compaction left at this version); an epoch table also gets an
        empty evmeta. Reads of an empty base directory resolve to empty."""
        bp = self._base_path(table, batch)
        shutil.rmtree(bp, ignore_errors=True)
        os.makedirs(bp)
        if table in EPOCH_TABLES:
            self.write_evmeta(table, batch, {"wm": {}, "counts": {}})

    def write_delta(
        self,
        table: str,
        batch: int,
        prev: int | None,
        inserts: DataFrame,
        tombstone_keys: DataFrame | None,
        schema: T.StructType,
        key: str = "doc_id",
    ) -> None:
        """Commit batch ``batch`` as an O(delta) write: ``inserts`` rows
        plus ``tombstone_keys`` (keys whose prior rows die; an upserted key
        appears in BOTH — the same-version insert wins). Compacts the
        chain into a new base snapshot every ``compact_every`` batches.
        """
        ins = _conform(inserts, schema)
        _, deltas = self._chain(table, prev) if prev is not None else (None, [])
        if len(deltas) + 1 >= self.compact_every:
            # fold the chain + this delta into a fresh base: O(capacity),
            # amortized over compact_every batches (Iceberg rewrite step)
            cur = self.read(table, prev, schema)
            if tombstone_keys is not None:
                # an anti-join needs no distinct keys — skipping the
                # dedup saves a shuffle stage; the key set is O(batch)
                cur = cur.join(F.broadcast(tombstone_keys.select(key)), key, "left_anti")
            live = cur.unionByName(ins)
            shutil.rmtree(self._delta_path(table, batch), ignore_errors=True)
            live.write.mode("overwrite").parquet(self._base_path(table, batch))
            return
        delta = ins.withColumn(_DEL, F.lit(False))
        if tombstone_keys is not None:
            tomb = tombstone_keys.select(F.col(key)).distinct().withColumn(_DEL, F.lit(True))
            delta = delta.unionByName(tomb, allowMissingColumns=True)
        # a crashed compaction may have left an uncommitted base at this
        # version — remove it so chain discovery can't resurrect it
        shutil.rmtree(self._base_path(table, batch), ignore_errors=True)
        # deltas are small by design — don't scatter them over the full
        # shuffle-partition count (a K-batch chain otherwise accumulates
        # K × partitions tiny files, and reads pay per-file scan setup:
        # measured ~3 s of fixed resolution cost at 6 × 32 files)
        delta.coalesce(8).write.mode("overwrite").parquet(self._delta_path(table, batch))

    # -- epoch layout (the FIFO pending and decision caches) -----------------
    #
    # Decisions are immutable and never recency-refreshed (first-wins,
    # processor.go:436-480), so the reference's decision-cache LRU order
    # IS insertion order — eviction can be FIFO by `decided_batch` epoch.
    # An epoch table is stored as:
    #
    #   {table}/epoch/v={b}/        batch b's new rows (O(delta) append)
    #   {table}/evict/v={b}/        per-row removal keys written at batch b
    #                               (doc_id, <epoch col>) — boundary-epoch
    #                               eviction victims and (pending) moved rows
    #   {table}/evmeta/v={b}.json   {"wm": {kind: epoch}, "counts": {epoch:
    #                               [per-kind live counts]}} as of batch b
    #   {table}/base/v={B}/<epoch col>={e}/   compaction, epoch-partitioned
    #
    # A row of kind k in epoch e is live iff e > wm[k] and (doc_id, e) has
    # no evict key. Whole-epoch eviction is a pure driver-side watermark
    # advance (O(1), no job); only a partial boundary-epoch eviction runs a
    # job, and it reads ONE epoch (partition-pruned), never the capacity.
    # The base holds only rows live at its version; epochs and evict keys
    # at or below it are shadowed.
    #
    # Two tables use it, each with its own (kind, epoch) keying:
    #   decision_state: kind = decision (Sampled/NotSampled),
    #                   epoch = decided_batch (immutable — rows never move)
    #   pending_state:  kind = cache tier (primary/secondary, from priority),
    #                   epoch = last_seen_batch. Pending recency REFRESHES,
    #                   but only on touched rows — a refresh is a
    #                   delta-shaped MOVE (evict key at the old epoch +
    #                   append in the new), so the FIFO watermark trick
    #                   still applies: LRU order is epoch order, with
    #                   (arrival_batch, doc_id) ranking only inside the
    #                   boundary epoch.

    def _epoch_cfg(self, table: str):
        """(kind Column expr, epoch column name, kind values) for the
        epoch-store tables. The wm filter/prune and the evict-key join are
        expressed through these, so the machinery is shared."""
        if table == "pending_state":
            return D.tier_of(F.col("priority")), "last_seen_batch", D.TIERS
        return F.col("decision"), "decided_batch", D.CACHED_KINDS

    def _epoch_path(self, table: str, batch: int) -> str:
        return os.path.join(self.dir, table, "epoch", f"v={batch}")

    def _evict_path(self, table: str, batch: int) -> str:
        return os.path.join(self.dir, table, "evict", f"v={batch}")

    def _evmeta_path(self, table: str, batch: int) -> str:
        return os.path.join(self.dir, table, "evmeta", f"v={batch}.json")

    def _evict_schema(self, table: str) -> T.StructType:
        _, epoch_col, _ = self._epoch_cfg(table)
        return T.StructType(
            [T.StructField("doc_id", T.StringType()), T.StructField(epoch_col, T.IntegerType())]
        )

    def write_epoch(self, table: str, batch: int, df: DataFrame) -> None:
        """O(delta) append of batch ``batch``'s new rows as one epoch.
        Clears a torn base, evict set and evmeta at the same version
        (torn-write replay)."""
        shutil.rmtree(self._base_path(table, batch), ignore_errors=True)
        shutil.rmtree(self._evict_path(table, batch), ignore_errors=True)
        try:
            os.remove(self._evmeta_path(table, batch))
        except FileNotFoundError:
            pass
        _conform(df, TABLE_SCHEMAS[table]).coalesce(4).write.mode("overwrite").parquet(
            self._epoch_path(table, batch)
        )

    def write_evict(self, table: str, batch: int, keys: DataFrame) -> None:
        """Removal keys ``(doc_id, <epoch col>)`` written at batch
        ``batch`` — kills those rows in their epoch only, so a later
        re-insert of the same doc (a fresh epoch row) survives. Used for
        boundary-epoch eviction victims and (pending) epoch moves."""
        _conform(keys, self._evict_schema(table)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(self._evict_path(table, batch))

    def write_evmeta(self, table: str, batch: int, meta: dict) -> None:
        d = os.path.dirname(self._evmeta_path(table, batch))
        os.makedirs(d, exist_ok=True)
        tmp = self._evmeta_path(table, batch) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._evmeta_path(table, batch))

    def _list_evmeta_versions(self, table: str) -> dict[int, str]:
        return _list_versions(os.path.join(self.dir, table, "evmeta"), ".json")

    def read_evmeta(self, table: str, batch: int) -> dict | None:
        """Newest evmeta at version ≤ batch (versioned like the data dirs,
        so time-travel reads use the watermark as of that commit)."""
        versions = self._list_evmeta_versions(table)
        best = max((v for v in versions if v <= batch), default=None)
        if best is None:
            return None
        with open(versions[best]) as f:
            return json.load(f)

    def epoch_meta(self, table: str, prev: int | None) -> tuple[dict[int, list[int]], dict]:
        """``(counts, wm)`` of an epoch table as of committed version
        ``prev``: per-epoch per-kind live counts and per-kind watermarks,
        keyed by native kind values — the driver-side state its eviction
        plan runs on. Empty before the first commit. A committed version
        without evmeta raises: re-deriving the counts from the rows would
        hide the inconsistency."""
        if prev is None:
            return {}, {}
        em = self.read_evmeta(table, prev)
        if em is None:
            raise RuntimeError(f"{table}: committed version {prev} has no evmeta")
        counts = {int(e): [int(n) for n in c] for e, c in em["counts"].items()}
        return counts, {_kind_key(str(k)): int(v) for k, v in em["wm"].items()}

    def _evmeta(self, table: str, counts: dict[int, list[int]], wm: dict) -> dict:
        """The evmeta JSON of ``(counts, wm)``. An epoch is dropped once
        every kind's watermark has passed it (a kind absent from ``wm`` has
        watermark -1) or it holds no rows."""
        _, _, kinds = self._epoch_cfg(table)
        dead = min(wm.get(k, -1) for k in kinds)
        return {
            "wm": {str(k): int(v) for k, v in wm.items()},
            "counts": {str(e): c for e, c in counts.items() if e > dead and any(c)},
        }

    def _epoch_parts(self, table: str, batch: int) -> tuple[int, list[tuple[int, str]], list[tuple[int, str]]]:
        """(floor version, epoch dirs, evict dirs) visible at ``batch``.
        The floor is the newest base ≤ batch (-1 if none); epochs and
        evicts at or below it are shadowed (compacted/truncated)."""
        floor = self._floor(table, batch)
        return floor, self._above(table, "epoch", floor, batch), self._above(table, "evict", floor, batch)

    def _scan(self, paths: str | list[str], schema) -> DataFrame:
        """Schema-bound parquet scan — starts no schema-inference job."""
        paths = [paths] if isinstance(paths, str) else paths
        return self.spark.read.schema(schema).parquet(*paths).select(*_field_names(schema))

    def _wm_filter(self, table: str, df: DataFrame, wm: dict) -> DataFrame:
        """Drop rows whose epoch is at or below their kind's watermark."""
        wm = {_kind_key(str(k)): int(v) for k, v in wm.items()}
        if not wm:
            return df
        kind_expr, epoch_col, all_kinds = self._epoch_cfg(table)
        live = None
        for kind, w in wm.items():
            term = (kind_expr != F.lit(kind)) | (F.col(epoch_col) > F.lit(w))
            live = term if live is None else live & term
        # partition-prune conjunct: only sound when EVERY kind has a
        # watermark — a kind absent from wm has watermark -1, and
        # pruning at min(present wms) would delete its live rows in
        # epochs the other kind already evicted
        if set(all_kinds) <= set(wm):
            live = live & (F.col(epoch_col) > F.lit(min(wm.values())))
        return df.filter(live)

    def _minus_keys(self, table: str, df: DataFrame, keys: DataFrame) -> DataFrame:
        """Anti-join on ``(doc_id, <epoch col>)`` removal keys — tiny by
        construction (boundary-eviction victims plus pending moves, O(batch)
        per version, folded away by compaction), so broadcast; duplicate
        keys are harmless to an anti-join, so no dedup shuffle."""
        _, epoch_col, _ = self._epoch_cfg(table)
        return df.join(
            F.broadcast(keys.select("doc_id", epoch_col)),
            ["doc_id", epoch_col],
            "left_anti",
        )

    def _read_epochal(self, table: str, batch: int, schema) -> DataFrame:
        """Union the floor base with the epoch appends above it, then
        apply the per-kind watermark filter and the partial-evict
        anti-join. A base alone is read as is: it holds only rows live at
        its version."""
        floor, epochs, evicts = self._epoch_parts(table, batch)
        parts = [self._scan(self._base_path(table, floor), schema)] if floor >= 0 else []
        parts += [self._scan(p, schema) for _, p in epochs]
        if not parts:
            return empty_frame(self.spark, schema)
        df = union_all(parts)
        if not (epochs or evicts):
            return df
        em = self.read_evmeta(table, batch) or {}
        df = self._wm_filter(table, df, em.get("wm") or {})
        if evicts:
            ev = self._scan([p for _, p in evicts], self._evict_schema(table))
            df = self._minus_keys(table, df, ev)
        return df

    def read_epoch_slice(self, table: str, batch: int, epoch: int, schema) -> DataFrame:
        """Live rows of ONE epoch as of ``batch`` — the partial-eviction
        read path. Touches only that epoch's append file (or its base
        partition directory), never the capacity; prior partial-evict
        keys for the epoch are anti-joined (broadcast, tiny). Empty when
        the epoch holds no rows."""
        _, epoch_col, _ = self._epoch_cfg(table)
        floor, epochs, evicts = self._epoch_parts(table, batch)
        paths = [p for v, p in epochs if v == epoch]
        bdir = os.path.join(self._base_path(table, floor), f"{epoch_col}={epoch}")
        if paths:
            df = self._scan(paths[0], schema)
        elif floor >= 0 and os.path.isdir(bdir):
            # the partition directory holds no epoch column of its own
            data = T.StructType([f for f in _struct(schema).fields if f.name != epoch_col])
            df = (
                self.spark.read.schema(data)
                .parquet(bdir)
                .withColumn(epoch_col, F.lit(epoch).cast("int"))
                .select(*_field_names(schema))
            )
        else:
            return empty_frame(self.spark, schema)
        if evicts:
            ev = self._scan([p for _, p in evicts], self._evict_schema(table))
            df = self._minus_keys(table, df, ev.filter(F.col(epoch_col) == F.lit(epoch)))
        return df

    def compact_epochs(self, table: str, batch: int, live: DataFrame) -> None:
        """Write ``live`` — the table's resolved live rows as of ``batch``
        — as a fresh epoch-partitioned base at ``batch``: O(live rows),
        amortized over the compaction cadence; partition pruning keeps
        future watermark filters cheap. The base shadows every epoch and
        evict directory at or below ``batch``."""
        _, epoch_col, _ = self._epoch_cfg(table)
        bp = self._base_path(table, batch)
        # coalesce, not repartition: the same 8 write tasks without a
        # shuffle stage (an epoch may span up to 8 files)
        (
            _conform(live, TABLE_SCHEMAS[table])
            .coalesce(8)
            .write.mode("overwrite")
            .partitionBy(epoch_col)
            .parquet(bp)
        )
        # zero live rows write no data files; the directory still marks
        # the base, and schema-bound reads of it resolve to empty
        os.makedirs(bp, exist_ok=True)

    def n_epochs_since_floor(self, table: str, batch: int | None) -> int:
        if batch is None:
            return 0
        _, epochs, _ = self._epoch_parts(table, batch)
        return len(epochs)

    def write_epoch_batch(
        self,
        table: str,
        batch: int,
        prev: int | None,
        rows: DataFrame,
        removal: DataFrame | None,
        counts: dict[int, list[int]],
        wm: dict,
    ) -> None:
        """Commit batch ``batch`` of an epoch-store table: ``rows`` are the
        batch's new epoch rows, ``removal`` the ``(doc_id, <epoch col>)``
        keys that die at this batch, ``counts`` and ``wm`` the per-epoch
        per-kind live counts and per-kind watermarks as of this batch
        (stored as its evmeta).

        Normally an O(delta) append of ``epoch/v=batch`` and
        ``evict/v=batch``. When compaction is due, the new base is written
        directly from the lazily resolved live frame — prev's live rows ∪
        ``rows``, minus the new watermarks and ``removal`` — instead of
        appending, reading the appends back and rewriting them."""
        meta = self._evmeta(table, counts, wm)
        if self.n_epochs_since_floor(table, prev) + 1 < self.compact_every:
            self.write_epoch(table, batch, rows)
            if removal is not None:
                self.write_evict(table, batch, removal)
            self.write_evmeta(table, batch, meta)
            return
        schema = TABLE_SCHEMAS[table]
        live = self.read(table, prev, schema).unionByName(_conform(rows, schema))
        live = self._wm_filter(table, live, wm)
        if removal is not None:
            live = self._minus_keys(table, live, removal)
        self.write_evmeta(table, batch, meta)
        self.compact_epochs(table, batch, live)

    # -- read ---------------------------------------------------------------

    def read(self, table: str, batch: int | None, schema=None) -> DataFrame:
        """Live rows of ``table`` as of committed version ``batch``
        (time-travel: any committed version resolves, not just the
        latest); for the metrics log, batch ``batch``'s rows. Empty when
        ``batch`` is None or nothing was written. ``schema`` defaults to
        the table's own."""
        schema = TABLE_SCHEMAS[table] if schema is None else schema
        if batch is None:
            return empty_frame(self.spark, schema)
        if table in EPOCH_TABLES:
            return self._read_epochal(table, batch, schema)
        if table == "metrics":
            p = self._log_path(table, batch)
            return self._scan(p, schema) if os.path.isdir(p) else empty_frame(self.spark, schema)
        base, deltas = self._chain(table, batch)
        if deltas:
            return self._resolve(base, deltas, schema, key="doc_id")
        if base is not None:  # post-compaction: plain scan
            return self._scan(base[1], schema)
        return empty_frame(self.spark, schema)

    def _resolve(
        self,
        base: tuple[int, str] | None,
        deltas: list[tuple[int, str]],
        schema,
        key: str,
    ) -> DataFrame:
        """Merge-on-read: a row is live iff no tombstone for its key is
        strictly newer (``_v >= _tv``). The tombstone side is O(chain
        delta keys) — tiny next to the base — so the join broadcasts; a
        chain with no tombstones costs just the union scan."""
        st = _struct(schema)
        delta_schema = T.StructType(st.fields + [T.StructField(_DEL, T.BooleanType())])
        parts = []
        if base is not None:
            bv, bpath = base
            parts.append(
                self._scan(bpath, st)
                .withColumn(_V, F.lit(bv))
                .withColumn(_DEL, F.lit(False))
            )
        for v, p in deltas:
            parts.append(self._scan(p, delta_schema).withColumn(_V, F.lit(v)))
        data = union_all(parts)
        tomb = (
            data.filter(F.col(_DEL))
            .groupBy(key)
            .agg(F.max(_V).alias("_tv"))
        )
        # explicit broadcast: the tombstone set is O(chain × per-batch
        # delta) by construction (compaction bounds the chain), while the
        # data side is O(capacity) — without the hint Catalyst's size
        # estimate over the union triggers a sort-merge join that
        # shuffles the full state per read (measured 3.8 s vs 0.45 s at
        # 10^7 rows × 6-delta chain, tools/bench_state_delta.py)
        return (
            data.filter(~F.col(_DEL))
            .join(F.broadcast(tomb), key, "left")
            .filter(F.col("_tv").isNull() | (F.col(_V) >= F.col("_tv")))
            .select(*st.fieldNames())
        )

    # -- maintenance --------------------------------------------------------

    def vacuum(self, table: str, committed: int) -> None:
        """Best-effort removal of chain segments shadowed by the newest
        base at or before ``committed``. Optional — time-travel reads of
        older versions stop working for vacuumed segments. Never touches
        versions > ``committed``."""
        bv = self._floor(table, committed)
        if bv < 0:
            return
        tdir = os.path.join(self.dir, table)
        for sub in ("delta", "epoch", "evict"):
            for v, p in list(_list_versions(os.path.join(tdir, sub)).items()):
                if v <= bv:
                    shutil.rmtree(p, ignore_errors=True)
        for v, p in list(_list_versions(os.path.join(tdir, "base")).items()):
            if v < bv:
                shutil.rmtree(p, ignore_errors=True)
        # evmeta files strictly below the base can go — the base bakes the
        # watermark as of its version, and every epoch batch writes a fresh
        # evmeta, so reads above bv still find the newest one
        for v, p in self._list_evmeta_versions(table).items():
            if v < bv:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
