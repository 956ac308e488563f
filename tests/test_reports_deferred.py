"""Reporting tier (operators/reports.py): per-source datasheets, MinHash
banding-parameter sweep, dedup threshold curve, char-entropy quality.

Oracle parity and the empty and hot-key universes are checked for
every registered key by tests/test_oracle_parity.py,
tests/test_empty_inputs.py and tests/test_skewed_inputs.py.
"""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.operators.reports import QUERIES
from banking_etl_pipeline_spark.plans import plan_of
from tests.oracle_compare import compare, duck_connection


@pytest.fixture(scope="module")
def reports():
    return QUERIES


@pytest.mark.parametrize(
    "key", ["source_quality_report", "dedup_threshold_curve"]
)
def test_report_oracle_parity(key, spark, sf_dir, reports):
    spec = reports[key]
    res = compare(spec.build(spark, sf_dir), duck_connection(sf_dir),
                  spec.oracle)
    assert res["row_count_match"] and res["columns_match"] \
        and res["values_match"], f"{key}: {res['detail']}"


def test_report_plans_scale_sane(spark, sf_dir, reports):
    for key, spec in reports.items():
        p = plan_of(spec.build(spark, sf_dir))
        assert "CartesianProduct" not in p, f"{key}: cartesian"
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in p, f"{key}: python eval"
    # the entropy signal must stay a shuffle-free scan→project
    p = plan_of(reports["char_entropy_quality"].build(spark, sf_dir))
    assert "Exchange" not in p


def test_report_repeat_deterministic(spark, sf_dir, reports):
    from collections import Counter

    from tests.oracle_compare import _norm

    for key, spec in reports.items():
        sets = []
        for _ in range(2):
            rows = spec.build(spark, sf_dir).collect()
            sets.append(Counter(
                tuple(_norm(r[c]) for c in sorted(r.asDict())) for r in rows
            ))
        assert sets[0] == sets[1], f"{key}: nondeterministic across builds"
