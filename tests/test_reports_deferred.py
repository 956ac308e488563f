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


_PERSIST_SCRIPT = r"""
import sys
sys.path.insert(0, "@REPO@")
from banking_etl_pipeline_spark.operators.dedup import dedup_ngram_jaccard
from banking_etl_pipeline_spark.registry import all_queries
from banking_etl_pipeline_spark.session import get_spark

spark = get_spark(app_name="sweep-persist")
sf = "@SF@"
qs = all_queries()


def run(df):
    df.write.format("noop").mode("overwrite").save()


def persisted():
    return spark.sparkContext._jsc.getPersistentRDDs().size()


run(qs["dedup_minhash_lsh"].build(spark, sf))
# the sweep's truth tier is the exact-Jaccard pair stage, persisted by its
# own keys; built first so only what the sweep itself adds is counted
run(dedup_ngram_jaccard(spark, sf))
before = persisted()
run(qs["minhash_param_sweep"].build(spark, sf))
print("persisted", before, persisted())
"""


def test_minhash_param_sweep_adds_no_persisted_relation():
    """In a fresh app, after `dedup_minhash_lsh` (and the exact-Jaccard
    truth tier) ran, the banding sweep reads the one persisted MinHash
    index and persists nothing of its own."""
    import os
    import subprocess
    import sys

    from tests.conftest import SF_SMALL

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _PERSIST_SCRIPT.replace("@REPO@", repo)
         .replace("@SF@", SF_SMALL)],
        capture_output=True, text=True, timeout=420, cwd=repo,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2",
             "SPARK_GRAFT_DRIVER_MEM": "2g"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("persisted ")][-1]
    _, before, after = line.split()
    assert int(before) > 0 and int(after) == int(before), line
