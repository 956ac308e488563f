from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from banking_etl_pipeline_spark.plans import plan_of  # noqa: E402
from banking_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


@pytest.fixture(scope="session")
def sf_plans():
    """key → (formatted, simple) plan text of a batch key built at sf_dir,
    explained before any action runs. Filled by whichever test builds the
    key first (the oracle-parity sweep, else the plan sweeps' fixture), so
    each key is built once for both checks."""
    return {}


def record_plans(sf_plans, key, df):
    sf_plans[key] = (plan_of(df), plan_of(df, "simple"))


def build_empty_universe(spark, sf_dir,
                         path="/tmp/banking_etl_pipeline_spark_empty"):
    """Empty tables with production schemas (shared with
    test_empty_inputs.py — same path, same _DONE marker)."""
    from banking_etl_pipeline_spark.catalog import TABLES, table
    if not os.path.exists(os.path.join(path, "_DONE")):
        for t in TABLES:
            table(spark, sf_dir, t).limit(0).write.mode("overwrite").parquet(
                os.path.join(path, f"{t}.parquet")
            )
        open(os.path.join(path, "_DONE"), "w").close()
    return path


def build_skewed_universe(spark, sf_dir,
                          path="/tmp/banking_etl_pipeline_spark_skewed_v2"):
    """One hot key per table (shared with test_skewed_inputs.py)."""
    from pyspark.sql import functions as F

    from banking_etl_pipeline_spark.catalog import TABLES, table
    if not os.path.exists(os.path.join(path, "_DONE")):
        for t in TABLES:
            df = table(spark, sf_dir, t)
            if t == "events":
                df = df.withColumn("user_id", F.lit(1).cast("long"))
            elif t == "orders":
                df = df.withColumn("o_custkey", F.lit(1).cast("long"))
            elif t == "documents":
                df = df.withColumn("lang", F.lit("en"))
            df.write.mode("overwrite").parquet(
                os.path.join(path, f"{t}.parquet")
            )
        open(os.path.join(path, "_DONE"), "w").close()
    return path
