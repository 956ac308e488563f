#!/usr/bin/env python
"""Regenerate OPERATORS.md — the auto-generated index of every registered
query: key, defining module, one-line description, and driver-verification
status (green row in a past CORRECTNESS_r*.json vs local-parity-only).

Usage: python scripts/dump_operator_index.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from banking_etl_pipeline_spark.registry import (  # noqa: E402
    _MODULES,
    _driver_verified_keys,
    _oracle_sha,
    all_queries,
    driver_verified_keys,
)


def _update_oracle_shas(queries) -> None:
    """Merge-update ORACLE_SHAS.json (run right after each driver round).

    Rules: (1) keys green in the LATEST CORRECTNESS_r*.json get the current
    oracle sha — but only on the FIRST refresh after that round landed
    (`__meta__.stamped_round` tracks it): that first refresh certifies the
    SQL the round actually ran; later refreshes in the same round must NOT
    re-stamp, or an oracle edit made after the round would be silently
    re-certified and never re-queued; (2) green keys with no recorded sha
    are bootstrapped to current; (3) keys green only in older rounds keep
    their old sha, so a later oracle-SQL edit correctly re-queues them
    (registry.driver_verified_keys drops sha mismatches)."""
    import glob
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "ORACLE_SHAS.json")
    if os.path.exists(path):
        # an unreadable shas file must ABORT, not proceed with an empty
        # baseline: the bootstrap rule would re-stamp every green key with
        # its CURRENT sha, silently re-certifying post-round oracle edits
        with open(path) as f:
            raw = json.load(f)
        if not isinstance(raw, dict):
            raise SystemExit(
                f"{path} is not a JSON object — refusing to rebuild the "
                "sha baseline from scratch; fix or delete the file "
                "deliberately")
    else:
        raw = {}
    meta = raw.pop("__meta__", {})
    if not isinstance(meta, dict):
        meta = {}
    recorded = {k: v for k, v in raw.items() if isinstance(v, str)}
    latest_green: set[str] = set()
    latest_round = None
    rounds = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    if rounds:
        try:
            with open(rounds[-1]) as f:
                rows = json.load(f)
            latest_green = {
                k for k, r in rows.items()
                if isinstance(r, dict) and r.get("rows_match")
                and r.get("schema_match") and r.get("hash_match")
            }
            # only a successfully-parsed round claims the one-time stamping
            # window; a truncated artifact must not burn it (the repaired
            # file under the same name still gets its first refresh)
            latest_round = os.path.basename(rounds[-1])
        except (OSError, ValueError):
            pass
    first_refresh_this_round = (
        latest_round is not None
        and meta.get("stamped_round") != latest_round
    )
    # shas captured at driver_sim verification time (the rehearsal the round
    # snapshot shipped with): stamping from these instead of the current SQL
    # means an oracle edit made between round-landing and this refresh
    # re-queues the key (safe) rather than being silently certified. Worst
    # case — an edit between the last sim run and the round snapshot — the
    # stale pending sha needlessly re-queues a genuinely certified key.
    try:
        with open(os.path.join(root, "ORACLE_SHAS_PENDING.json")) as f:
            pending = {k: v for k, v in json.load(f).items()
                       if isinstance(v, str)}
    except (OSError, ValueError):
        pending = {}
    # iterate the RAW green set (pre-invalidation): a key re-greened in the
    # latest round is raw-green but sha-invalidated until this very refresh
    for key in _driver_verified_keys():
        if key not in queries:
            continue
        if key not in recorded or (
            key in latest_green and first_refresh_this_round
        ):
            recorded[key] = pending.get(key) or _oracle_sha(queries[key])
    out = dict(sorted(recorded.items()))
    if latest_round is not None:
        out["__meta__"] = {"stamped_round": latest_round}
    elif meta:
        out["__meta__"] = meta  # unreadable round: keep the prior window
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"ORACLE_SHAS.json: {len(recorded)} recorded "
          f"(stamped_round={latest_round})")


def main() -> None:
    verified = driver_verified_keys()
    key_module: dict[str, str] = {}
    for mod in _MODULES:
        name = mod.__name__.split("banking_etl_pipeline_spark.")[-1]
        for key in mod.QUERIES:
            key_module[key] = name
    queries = all_queries()
    lines = [
        "# OPERATORS — registered query index (auto-generated)",
        "",
        f"{len(queries)} queries, every one with a DuckDB oracle "
        "(hash-compared at sf0.01 by the driver, sf0.001 locally).",
        "'driver-green' = fully-green row in a past CORRECTNESS_r*.json; "
        "'local' = oracle-parity green in tests/driver_sim only (the "
        "registry emits these FIRST so the driver's ~50-entry window "
        "rotates through them).",
        "",
        "Regenerate with `python scripts/dump_operator_index.py`.",
        "",
        "| # | key | module | verified | description |",
        "|---|-----|--------|----------|-------------|",
    ]
    for i, (key, spec) in enumerate(queries.items(), 1):
        status = "driver-green" if key in verified else "local"
        desc = (spec.doc or "").replace("|", "\\|")
        lines.append(
            f"| {i} | `{key}` | {key_module.get(key, '?')} | {status} "
            f"| {desc} |"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "OPERATORS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"OPERATORS.md regenerated: {len(queries)} queries "
          f"({sum(1 for k in queries if k in verified)} driver-green)")
    _update_oracle_shas(queries)


if __name__ == "__main__":
    main()
