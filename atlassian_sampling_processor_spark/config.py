"""Config model + YAML loader mirroring the reference's config surface
(config.go:13-114, config_policy.go:16-180, factory.go defaults
config.go:61-72). Policy YAML entries translate 1:1 into
:mod:`policies.builders` objects; validation errors raise at load time,
matching the reference's fail-to-start behavior.

The reference's own YAML shape loads verbatim
(testdata/atlassian_sampling_test_cfg.yml): the optional
``atlassian_sampling:`` wrapper, nested ``decision_cache:`` capacities,
``record_decision_from: {res_attr_key, mappings: [{pattern, value}]}``,
unnamed sub-policies, and ``remote_probabilistic.rate_getter``. The
earlier flat spellings (``sampled_cache_size`` at top level, string
``record_decision_from`` + ``decision_groupers``) stay as aliases.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Callable

from .policies import (
    AndPolicy,
    Latency,
    Downgrader,
    OTTLCondition,
    Policy,
    PolicyError,
    Probabilistic,
    RemoteProbabilistic,
    RootSpans,
    SpanCount,
    StatusCode,
    Threshold,
)


@dataclass
class EngineConfig:
    """Engine capacities (createDefaultConfig, config.go:61-72)."""

    shards: int = 32  # reference default 1; ours defaults to core count
    primary_cache_size: int = 1000
    secondary_cache_size: int = 100
    sampled_cache_size: int = 10_000
    non_sampled_cache_size: int = 10_000
    # the reference warm-starts the primary cache at 60% of target and
    # lets the memory regulator grow it (processor.go:113-114); Spark
    # manages memory, so the regulator is replaced by this static factor
    primary_warm_fraction: float = 1.0
    compress: bool = True
    # >0: explicit two-phase salted aggregation on the trace key (for
    # single-trace hot-key skew; Catalyst partial agg covers the rest)
    salt_buckets: int = 0  # parquet codec handles payload compression
    # memory regulator inputs (config.go:22-29); regulator.py re-targets
    # heap bytes at state-table rows
    target_heap_bytes: int = 0
    regulate_cache_delay_s: float = 0.0
    # run_pipeline.py ends a run with the shutdown flush
    # (processor.go:538-623) when set
    flush_on_shutdown: bool = False
    # accepted for reference-YAML compatibility; n/a by design — Spark's
    # scheduler replaces the preprocess chan (config.go:45-47)
    preprocess_buffer_size: int = 0
    # state tables commit O(delta) per batch (epoch appends for the two
    # caches, a base/delta chain for pending_spans) and fold into a base
    # snapshot every N batches (amortized O(capacity/N) write — the
    # Iceberg MERGE shape; see state.py). 1 = a new base every batch.
    state_compact_every: int = 8

    def primary_capacity(self) -> int:
        return max(1, int(self.primary_cache_size * self.primary_warm_fraction))


def parse_duration(v) -> float:
    """Go-style duration string → seconds ('5m', '1h30m', '250ms', '10s');
    bare numbers pass through as seconds."""
    if isinstance(v, (int, float)):
        return float(v)
    total, pos = 0.0, 0
    units = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}
    for m in re.finditer(r"(\d+(?:\.\d+)?)(ms|s|m|h)", str(v)):
        if m.start() != pos:
            raise PolicyError(f"invalid duration {v!r}")
        total += float(m.group(1)) * units[m.group(2)]
        pos = m.end()
    if pos != len(str(v)) or pos == 0:
        raise PolicyError(f"invalid duration {v!r}")
    return total


def _shared_policy(name: str, typ: str, body: dict[str, Any],
                   rate_getters: dict[str, Callable[[], float]] | None = None) -> Policy:
    if typ == "probabilistic":
        c = body.get("probabilistic", {})
        return Probabilistic(
            name=name,
            sampling_percentage=float(c.get("sampling_percentage", 0.0)),
            hash_salt=c.get("hash_salt", ""),
        )
    if typ == "remote_probabilistic":
        c = body.get("remote_probabilistic", {})
        # reference key is `rate_getter` (config_policy.go); keep the old
        # `rate_getter_ext` spelling as an alias
        getter_name = c.get("rate_getter", c.get("rate_getter_ext", ""))
        getter = (rate_getters or {}).get(getter_name, None)
        return RemoteProbabilistic(
            name=name,
            default_rate=float(c.get("default_rate", 0.0)),
            hash_salt=c.get("hash_salt", ""),
            rate_getter=getter,
        )
    if typ == "span_count":
        c = body.get("span_count", {})
        return SpanCount(name=name, min_spans=int(c.get("min_spans", 0)),
                         log_sampled=bool(c.get("log_sampled", False)))
    if typ == "latency":
        c = body.get("latency", {})
        return Latency(name=name, threshold_ms=int(c.get("threshold_ms", 0)))
    if typ == "status_code":
        c = body.get("status_code", {})
        return StatusCode(name=name, status_codes=list(c.get("status_codes", [])))
    if typ == "ottl_condition":
        c = body.get("ottl_condition", {})
        return OTTLCondition(
            name=name,
            span_conditions=list(c.get("span", [])),
            span_event_conditions=list(c.get("spanevent", [])),
            error_mode=c.get("error_mode", "ignore"),
        )
    if typ == "threshold":
        return Threshold(name=name)
    raise PolicyError(f"unknown sampling policy type {typ!r}")


def _parse_record_decision_from(name: str, entry: dict[str, Any]) -> tuple[str, list[tuple[str, str]]]:
    """Reference shape: ``record_decision_from: {res_attr_key, mappings:
    [{pattern, value}]}`` (config_policy.go:26-48, validated per
    config.go:116-140). Flat-string + ``decision_groupers`` kept as an
    alias. Returns (res_attr_key, [(pattern, value), ...])."""
    rdf = entry.get("record_decision_from", "")
    if isinstance(rdf, dict):
        key = rdf.get("res_attr_key", "")
        if not key:
            raise PolicyError(
                f"policy {name!r}: record_decision_from.res_attr_key must not be empty"
            )
        mappings = []
        for i, m in enumerate(rdf.get("mappings", []) or []):
            pattern = m.get("pattern", "")
            if not pattern:
                raise PolicyError(
                    f"policy {name!r}: record_decision_from.mappings[{i}].pattern must not be empty"
                )
            try:
                re.compile(pattern)
            except re.error as exc:
                raise PolicyError(
                    f"policy {name!r}: record_decision_from.mappings[{i}].pattern"
                    f" {pattern!r} is not a valid regex: {exc}"
                ) from exc
            # the reference compiles these with Go regexp (RE2,
            # config.go:116-140) — Java-only constructs fail it at startup
            from .policies.ottl import ensure_re2_compatible

            try:
                ensure_re2_compatible(pattern, "record_decision_from mapping")
            except PolicyError as exc:
                raise PolicyError(f"policy {name!r}: {exc}") from exc
            mappings.append((pattern, m.get("value", "")))
        return key, mappings
    groupers = entry.get("decision_groupers", []) or entry.get("decision_grouping", [])
    return rdf, [(g["regex"], g["group"]) for g in groupers]


def parse_policy(entry: dict[str, Any],
                 rate_getters: dict[str, Callable[[], float]] | None = None) -> Policy:
    # fail-to-start contract (config.go Validate): EVERY malformed config
    # surfaces as PolicyError, never a raw KeyError/TypeError
    if not isinstance(entry, dict) or "name" not in entry or "type" not in entry:
        raise PolicyError(f"policy entry must carry name and type: {entry!r}")
    name = entry["name"]
    typ = entry["type"]
    if not isinstance(name, str) or not name:
        raise PolicyError(f"policy name must be a non-empty string: {name!r}")

    def sub_name(s: dict[str, Any], suffix: str) -> str:
        # reference sub-policies may be anonymous (root_spans/downgrader in
        # atlassian_sampling_test_cfg.yml carry only a type)
        return s.get("name", f"{name}.{suffix}")

    def sub_type(s: dict[str, Any]) -> str:
        if not isinstance(s, dict) or "type" not in s:
            raise PolicyError(f"policy {name!r}: sub-policy must carry a type: {s!r}")
        return s["type"]

    if typ == "and":
        subs = [
            _shared_policy(sub_name(s, f"sub{i}"), sub_type(s), s, rate_getters)
            for i, s in enumerate(entry.get("and", {}).get("and_sub_policy", []))
        ]
        pol: Policy = AndPolicy(name=name, sub_policies=subs)
    elif typ == "root_spans":
        s = entry.get("root_spans", {}).get("sub_policy", {})
        pol = RootSpans(name=name, sub_policy=_shared_policy(sub_name(s, "sub"), sub_type(s), s, rate_getters))
    elif typ == "downgrader":
        c = entry.get("downgrader", {})
        s = c.get("sub_policy", {})
        pol = Downgrader(
            name=name,
            downgrade_to=c.get("downgrade_to", "NotSampled"),
            sub_policy=_shared_policy(sub_name(s, "sub"), sub_type(s), s, rate_getters),
        )
    else:
        pol = _shared_policy(name, typ, entry, rate_getters)

    pol.emit_single_span_for_not_sampled = bool(entry.get("emit_single_span_for_not_sampled", False))
    pol.record_decision_from, pol.decision_groupers = _parse_record_decision_from(name, entry)
    return pol


def _parse_policy_total(entry: dict[str, Any],
                        rate_getters: dict[str, Callable[[], float]] | None = None) -> Policy:
    """parse_policy with the fail-to-start guarantee: any malformed shape
    (wrong scalar types, lists where dicts belong, …) surfaces as
    PolicyError — the collector converts config unmarshal errors to
    startup errors the same way."""
    try:
        return parse_policy(entry, rate_getters)
    except PolicyError:
        raise
    except (TypeError, ValueError, AttributeError, KeyError) as exc:
        nm = entry.get("name") if isinstance(entry, dict) else None
        raise PolicyError(
            f"policy {nm!r}: malformed config: {type(exc).__name__}: {exc}"
        ) from exc


def parse_policies(entries: list[dict[str, Any]],
                   rate_getters: dict[str, Callable[[], float]] | None = None) -> list[Policy]:
    if not isinstance(entries, list):
        raise PolicyError(f"sampling_policies must be a list: {entries!r}")
    pols = [_parse_policy_total(e, rate_getters) for e in entries]
    names = [p.name for p in pols]
    if len(set(names)) != len(names):  # duplicate-name check (policy.go:77-85)
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise PolicyError(f"duplicate policy names: {dupes}")
    return pols


def validate_engine(eng: EngineConfig) -> None:
    """Config.Validate() (config.go:93-114): fail to start on invalid
    capacities rather than run with them."""
    errs = []
    if eng.primary_cache_size <= 0:
        errs.append("primary_cache_size must be greater than 0")
    if eng.secondary_cache_size <= 0 or eng.secondary_cache_size > eng.primary_cache_size // 2:
        errs.append(
            "secondary_cache_size must be greater than 0 and less than 50% of primary_cache_size"
        )
    if eng.preprocess_buffer_size < 0:
        errs.append("preprocess_buffer_size must be >= 0")
    if eng.shards <= 0:
        errs.append("shards must be > 0")
    if errs:
        raise PolicyError("; ".join(errs))


def load_config(path_or_dict,
                rate_getters: dict[str, Callable[[], float]] | None = None
                ) -> tuple[EngineConfig, list[Policy]]:
    if isinstance(path_or_dict, str):
        import yaml

        with open(path_or_dict) as f:
            cfg = yaml.safe_load(f)
    else:
        cfg = dict(path_or_dict)

    # the collector nests processor config under the component name
    if "atlassian_sampling" in cfg and isinstance(cfg["atlassian_sampling"], dict):
        cfg = cfg["atlassian_sampling"]

    # decision caches nest under decision_cache: in the reference
    # (config.go:38, DecisionCacheCfg); flat spellings kept as aliases.
    dc = cfg.get("decision_cache", {}) or {}
    primary = int(cfg.get("max_traces", cfg.get("primary_cache_size", 1000)))
    eng = EngineConfig(
        shards=int(cfg.get("shards", 32)),
        primary_cache_size=primary,
        secondary_cache_size=int(cfg.get("secondary_cache_size", 100)),
        sampled_cache_size=int(
            dc.get("sampled_cache_size", cfg.get("sampled_cache_size", 10 * primary))
        ),
        non_sampled_cache_size=int(
            dc.get("non_sampled_cache_size", cfg.get("non_sampled_cache_size", 10 * primary))
        ),
        primary_warm_fraction=float(cfg.get("primary_warm_fraction", 1.0)),
        compress=bool(cfg.get("compression_enabled", True)),
        salt_buckets=int(cfg.get("salt_buckets", 0)),
        target_heap_bytes=int(cfg.get("target_heap_bytes", 0)),
        regulate_cache_delay_s=parse_duration(cfg.get("regulate_cache_delay", 0)),
        flush_on_shutdown=bool(cfg.get("flush_on_shutdown", False)),
        preprocess_buffer_size=int(cfg.get("preprocess_buffer_size", 0)),
        state_compact_every=int(cfg.get("state_compact_every", 8)),
    )
    validate_engine(eng)
    pols = parse_policies(cfg.get("sampling_policies", cfg.get("policies", [])), rate_getters)
    return eng, pols

