"""Central query registry: key → QuerySpec(spark builder, duckdb oracle SQL).

Aggregates every operator module's QUERIES dict. `__spark_entry__.py` exposes
this to the driver; tests/test_oracle_parity.py runs the same comparison
locally at sf0.001.

Ordering: the driver's correctness harness records only the first ~50
registry-order entries per round, so `all_queries()` emits keys that have
never earned a green row in any past `CORRECTNESS_r*.json` FIRST (in a
priority module order: quality → scans → etl → windows → dedup → similarity →
corpus → ...), then the already-verified keys. This auto-rotates coverage
each round without manual curation.
"""

from __future__ import annotations

import glob
import json
import os

from .operators import (
    analytics, bitext, calibration, corpus, curation, curriculum, dataops,
    dedup, epochs, etl, features, graphs, ivm, kmv, layout, lshscale,
    multimodal, planner, pquant, preference, privacy, quality, relational,
    reports, retrieval, safety, sampling, shards, similarity, skew,
    substrings, text, tokenizer, weaklabel, windows,
)
from .sources import scan_queries
from .spec import QuerySpec
from .streaming import stateful as stream_stateful
from .streaming import windows as stream_windows

# Priority order: never-driver-verified families first (quality/scans/etl per
# VERDICT r1 item 1), then the LLM-data extension surface, so the
# unverified-first partition in all_queries() puts the reference's
# distinctive DQ library + scans + dedup/similarity/corpus at the head of the
# round-2 correctness window. TPC-H-style analytics (mostly r1-verified or
# lower priority) follow, then the round-2+ curation tier, placed after them
# so its (new, never-verified) keys queue BEHIND the families the driver
# window should verify first.
_MODULES = [
    quality, scan_queries, etl, windows,
    dedup, corpus, similarity, text, multimodal,
    stream_windows, stream_stateful,
    relational, analytics, skew, sampling, layout,
    curation,
    # Round-5 registration: the eight tiers built (and rehearsed through
    # the exact driver comparison — DRIVER_SIM_r04_deferred.log, 231/231
    # ok) under the r2-r4 registry freeze.
    reports, tokenizer, privacy, bitext, safety, preference, curriculum,
    weaklabel,
    # Round-6 registration: the remaining eleven deferred tiers (built
    # r4/r5, all sim-green at sf0.01; the 30 staged ones also at sf0.1) —
    # with the r5 window fully green the never-verified queue after this
    # registration is exactly these 36 keys, fitting one ~50-entry driver
    # window. They queue behind nothing: the unverified-first rotation
    # puts them at the head automatically.
    substrings, pquant, shards, dataops, retrieval, epochs, ivm, features,
    calibration, graphs, kmv,
    # round 6, built this round (planner: scale advisors; lshscale: the
    # banding study) — registered same-round after 276/276 rehearsals at
    # sf0.01 AND sf0.1; the never-green queue (36 r6 tier keys +
    # triangle_count's sha re-queue + these 8) is 45 keys, inside the
    # ~50-entry driver window
    planner, lshscale,
]


# Registration-deferred tiers: complete QuerySpec surfaces held out of
# _MODULES until their driver-verification backlog slot opens. Currently
# empty — all nineteen r4-r6 tiers are registered. To defer a future
# tier, add its module name here (the module needs a `queries()` function
# returning {key: QuerySpec}).
_DEFERRED_MODULE_NAMES: tuple[str, ...] = ()


def deferred_modules() -> list:
    import importlib

    return [
        importlib.import_module(f".operators.{name}", __package__)
        for name in _DEFERRED_MODULE_NAMES
    ]


def deferred_queries() -> dict[str, QuerySpec]:
    out: dict[str, QuerySpec] = {}
    for mod in deferred_modules():
        for key, spec in mod.queries().items():
            if key in out:  # pragma: no cover
                raise ValueError(f"duplicate deferred key {key!r}")
            out[key] = spec
    return out


def _driver_verified_keys() -> set[str]:
    """Keys with a fully-green row in any past driver CORRECTNESS_r*.json.

    The repo root is two levels above this file. Missing/corrupt files are
    ignored (fresh checkout, mid-write) — worst case the ordering falls back
    to plain registry order, which is still valid.
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):  # pragma: no cover
            continue
        if not isinstance(rows, dict):  # pragma: no cover
            continue
        for key, row in rows.items():
            if isinstance(row, dict) and row.get("rows_match") and \
                    row.get("schema_match") and row.get("hash_match"):
                green.add(key)
    return green


def _oracle_sha(spec: QuerySpec) -> str:
    import hashlib

    return hashlib.sha256((spec.oracle or "").encode()).hexdigest()[:16]


def _recorded_oracle_shas() -> dict[str, str]:
    """key → sha256 prefix of its oracle SQL as of the round it went green.

    `ORACLE_SHAS.json` is regenerated by scripts/dump_operator_index.py after
    each driver round (merge: existing entries kept, newly-green keys added
    with the then-current sha). A green key whose CURRENT oracle sha differs
    from the recorded one is treated as unverified again — the old driver row
    certified different semantics."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        with open(os.path.join(root, "ORACLE_SHAS.json")) as f:
            shas = json.load(f)
        if not isinstance(shas, dict):  # pragma: no cover
            return {}
        # drop bookkeeping entries (e.g. __meta__.stamped_round) — only
        # plain key → sha strings participate in invalidation
        return {k: v for k, v in shas.items() if isinstance(v, str)}
    except (OSError, ValueError):  # pragma: no cover
        return {}


def _module_queries(mod) -> dict[str, QuerySpec]:
    """A module's query dict — `QUERIES` attribute or `queries()` function
    (the deferred tiers use the latter, so moving a name from
    _DEFERRED_MODULE_NAMES into _MODULES works without rewriting the
    module)."""
    qs = getattr(mod, "QUERIES", None)
    return dict(qs) if qs is not None else mod.queries()


def _registered() -> dict[str, QuerySpec]:
    ordered: dict[str, QuerySpec] = {}
    for mod in _MODULES:
        for key, spec in _module_queries(mod).items():
            if key in ordered:
                raise ValueError(f"duplicate query key {key!r}")
            ordered[key] = spec
    return ordered


def merged_queries() -> dict[str, QuerySpec]:
    """Registered queries (unverified-first order) plus the deferred tiers
    — the full built surface, for consumers that want both."""
    out = dict(all_queries())
    for key, spec in deferred_queries().items():
        if key in out:
            raise ValueError(
                f"deferred key {key!r} collides with a registered query — "
                "it would shadow the registered QuerySpec for CLI/dump_plans"
            )
        out[key] = spec
    return out


def driver_verified_keys() -> set[str]:
    """Green driver rows, minus keys whose oracle SQL changed since green."""
    ordered = _registered()
    verified = _driver_verified_keys()
    recorded = _recorded_oracle_shas()
    for key in list(verified):
        if key in recorded and key in ordered \
                and _oracle_sha(ordered[key]) != recorded[key]:
            verified.discard(key)
    return verified


def all_queries() -> dict[str, QuerySpec]:
    ordered = _registered()
    verified = driver_verified_keys()
    out: dict[str, QuerySpec] = {}
    for key, spec in ordered.items():  # never-verified keys first
        if key not in verified:
            out[key] = spec
    for key, spec in ordered.items():
        if key in verified:
            out[key] = spec
    return out
