"""Registry-ordering contract: the driver's correctness harness records
only the first ~50 registry-order entries per round, so `all_queries()`
must emit every never-driver-verified key BEFORE any key that already has
a fully-green row in a past CORRECTNESS_r*.json — otherwise round-over-
round coverage rotation silently stops. Pure-Python (no Spark session).
"""

from __future__ import annotations

from banking_etl_pipeline_spark.registry import (
    all_queries,
    driver_verified_keys,
)


def test_unverified_keys_emit_before_verified():
    # the sha-aware set (a green key whose oracle SQL changed re-queues):
    # MUST match what all_queries() orders by, or this invariant lies
    verified = driver_verified_keys()
    assert verified, "r1 CORRECTNESS file should contribute green keys"
    seen_verified = False
    for key in all_queries():
        if key in verified:
            seen_verified = True
        else:
            assert not seen_verified, (
                f"unverified key {key!r} ordered after a verified key — "
                "the driver's 50-entry window would re-check old keys"
            )


def test_priority_families_lead_the_window():
    """The judge-prioritized families (DQ, scans, merge upsert, the 30-day
    frame, the dedup tier) must sit inside the first 50 entries while any
    of them remain unverified."""
    verified = driver_verified_keys()
    head = list(all_queries())[:50]
    for key in ("dq_null_counts", "dq_dup_count", "dq_range_violations",
                "dq_orphans", "scan_csv", "scan_parquet", "merge_upsert",
                "window_range_30d", "dedup_exact", "dedup_minhash_lsh"):
        if key not in verified:
            assert key in head, f"{key!r} fell out of the driver window"


def test_oracle_sha_change_requeues_key(monkeypatch):
    """A driver-green key whose oracle SQL changes after verification must
    drop out of the verified set (its green row certified different
    semantics) and re-enter the unverified-first window."""

    from banking_etl_pipeline_spark import registry

    recorded = registry._recorded_oracle_shas()
    # only keys that actually carry a recorded sha can demonstrate
    # invalidation: in the between-round state, keys green in the newest
    # CORRECTNESS file have no recorded sha until the index refresh runs
    candidates = sorted(driver_verified_keys() & set(recorded))
    assert candidates, "no driver-verified key has a recorded oracle sha"
    key = candidates[0]
    assert key in driver_verified_keys()
    # simulate an oracle edit: recorded sha no longer matches current SQL
    tampered = dict(recorded)
    tampered[key] = "0" * 16
    monkeypatch.setattr(registry, "_recorded_oracle_shas", lambda: tampered)
    assert key not in registry.driver_verified_keys()
    # and the registry re-orders it into the unverified-first block
    order = list(registry.all_queries())
    first_verified = next(
        i for i, k in enumerate(order)
        if k in registry.driver_verified_keys()
    )
    assert order.index(key) < first_verified


def test_every_query_has_an_oracle():
    """Round-2 invariant: zero rows-only queries — every registered key
    carries a DuckDB oracle for the hash comparison."""
    missing = [k for k, s in all_queries().items() if s.oracle is None]
    assert missing == []


def test_no_oracle_emits_hugeint(sf_dir):
    """r4 driver lesson (priority_line_counts, pack_sequences): DuckDB
    SUM(int)→HUGEINT and DECIMAL(38,*) pandas-convert to float64/object
    while Spark emits bigint — invisible to fetchall() compares, fails the
    driver's value hash. DESCRIBE every registered oracle and
    reject those types at the top level; <1 s for the whole surface."""
    from tests.oracle_compare import duck_connection, oracle_type_offenders

    con = duck_connection(sf_dir)
    offenders = {}
    for key, spec in all_queries().items():
        bad = oracle_type_offenders(con, spec.oracle)
        if bad:
            offenders[key] = bad
    assert offenders == {}, (
        f"oracles emitting HUGEINT/DECIMAL(38) columns: {offenders} — "
        "add CAST(... AS BIGINT) in the oracle SQL"
    )


def test_r6_registration_landed():
    """The round-6 registrations: the eleven r4/r5 deferred tiers plus the
    two tiers built this round (planner, lshscale) are all in the registry
    proper (276 keys), each spec complete.
    Ordering assertions are artifact-state-agnostic (the r5 lesson: a
    hard-coded 'key X is unverified' flips the moment the next CORRECTNESS
    file lands) — they derive from driver_verified_keys() live."""
    from banking_etl_pipeline_spark.spec import QuerySpec

    merged = all_queries()
    assert len(merged) == 276
    for key in ("substring_dup_coverage", "pq_encode", "shard_assignment",
                "dataset_diff", "retrieval_ndcg", "epoch_shuffle_heads",
                "ivm_join_delta", "target_encoding_oof", "ece_report",
                "bfs_layers", "kmv_jaccard_report",
                "shuffle_partition_plan", "lsh_candidate_report",
                "lsh_paramscan_report", "dedup_embedding_cosine_scaled"):
        assert key in merged, f"tier key {key!r} missing from the registry"
        spec = merged[key]
        assert isinstance(spec, QuerySpec) and callable(spec.build), key
        assert spec.oracle and spec.oracle.strip().upper().startswith(
            ("WITH", "SELECT")), f"{key}: oracle missing/odd"
        assert spec.doc, f"{key}: missing description"
    # whatever is unverified NOW must emit before whatever is verified NOW
    # (the general invariant is test_unverified_keys_emit_before_verified;
    # here we only pin that the r6 tier keys participate in the rotation)
    order = list(merged)
    verified = driver_verified_keys()
    for key in ("pq_encode", "bfs_layers"):
        if key not in verified and "pricing_summary" in verified:
            assert order.index(key) < order.index("pricing_summary")


def test_every_module_registers_complete_specs():
    """One registration style: every registry module exposes a non-empty
    module-level QUERIES dict whose specs each carry a callable builder, a
    WITH/SELECT oracle (set_ops opens with a parenthesized SELECT) and a
    description."""
    from banking_etl_pipeline_spark import registry
    from banking_etl_pipeline_spark.spec import QuerySpec

    for mod in registry._MODULES:
        qs = getattr(mod, "QUERIES", None)
        assert isinstance(qs, dict) and qs, f"{mod.__name__}: no QUERIES"
        for key, spec in qs.items():
            assert isinstance(spec, QuerySpec), key
            assert callable(spec.build), key
            assert spec.oracle and spec.oracle.strip().lstrip("(").upper() \
                .startswith(("WITH", "SELECT")), f"{key}: oracle missing/odd"
            assert spec.doc, f"{key}: missing description"
