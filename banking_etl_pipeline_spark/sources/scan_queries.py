"""Oracle-checked scan queries (S1/S2/S5 of SURVEY.md §2.1).

CSV and text scans need CSV/text *inputs*; the testdata is parquet-only, so
each scan query first materializes a deterministic CSV/text copy of a small
table under /tmp (cached per sf_dir), reads it back through the engine's
reader, and the oracle reads the original parquet view — a true round-trip
equivalence check of the format reader, not a mock.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..spec import QuerySpec
from .readers import (
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    read_parquet_evolved,
    read_text,
)

_CACHE_ROOT = "/tmp/banking_etl_pipeline_spark_cache"


def _cache_dir(sf_dir: str, kind: str) -> str:
    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(_CACHE_ROOT, tag, kind)


def _materialize(path: str, write: Callable[[str], None],
                 marker: str = "_SUCCESS") -> str:
    """Write the cache directory `path` once, safely under concurrent runs:
    `write(tmp)` fills a unique sibling temp directory, which is then
    renamed into place, so a reader only ever sees a complete directory.
    When another writer's rename won, this copy is discarded. `marker`
    (relative to `path`) marks a complete directory."""
    done = os.path.join(path, marker)
    if not os.path.exists(done):
        parent = os.path.dirname(path)
        os.makedirs(parent, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=parent, prefix=f".{os.path.basename(path)}-")
        try:
            write(tmp)
            try:
                os.rename(tmp, path)
            except OSError:
                if not os.path.exists(done):
                    _replace_incomplete(path, tmp, done)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def _replace_incomplete(path: str, tmp: str, done: str) -> None:
    """`path` exists without its marker: a killed writer (or an older
    in-place overwrite) left it. Only complete directories are renamed in,
    so it is no writer's live output: move it aside and rename `tmp` in.
    The lock keeps two repairers from moving aside each other's result."""
    with open(path + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(done):
            return
        stale = tmp + ".stale"
        os.rename(path, stale)
        shutil.rmtree(stale, ignore_errors=True)
        try:
            os.rename(tmp, path)
        except OSError:  # an unlocked writer's rename landed first
            if not os.path.exists(done):
                raise


def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip of `region` (int/string columns only — CSV-safe)."""
    path = _materialize(
        _cache_dir(sf_dir, "region_csv"),
        lambda tmp: table(spark, sf_dir, "region").coalesce(1).write.mode(
            "overwrite").option("header", "true").csv(tmp),
    )
    return read_csv(
        spark, path, header=True, schema="r_regionkey int, r_name string"
    )


SCAN_CSV_SQL = "SELECT r_regionkey, r_name FROM region"


def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, "nation.parquet"))


SCAN_PARQUET_SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-line scan of the documents corpus (one line per doc)."""
    path = _materialize(
        _cache_dir(sf_dir, "documents_txt"),
        lambda tmp: table(spark, sf_dir, "documents").select("text").coalesce(
            1).write.mode("overwrite").text(tmp),
    )
    return read_text(spark, path)


SCAN_TEXT_SQL = "SELECT text AS value FROM documents"


def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip of `nation` with an explicit schema (no
    inference scan)."""
    path = _materialize(
        _cache_dir(sf_dir, "nation_json"),
        lambda tmp: table(spark, sf_dir, "nation").coalesce(1).write.mode(
            "overwrite").json(tmp),
    )
    return read_json(
        spark, path, schema="n_nationkey long, n_name string, n_regionkey long"
    ).select("n_nationkey", "n_name", "n_regionkey")


SCAN_JSON_SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip of `region` — same columnar pushdown/pruning path as
    parquet, second columnar format for the source surface."""
    path = _materialize(
        _cache_dir(sf_dir, "region_orc"),
        lambda tmp: table(spark, sf_dir, "region").coalesce(1).write.mode(
            "overwrite").orc(tmp),
    )
    return read_orc(spark, path)


SCAN_ORC_SQL = "SELECT r_regionkey, r_name FROM region"


def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution round-trip: generation 1 of the customer extract
    was written WITHOUT the balance column, generation 2 added it
    (integer cents). A `mergeSchema` read unions the generations with the
    added column nullable on gen-1 rows — the unmanaged-evolution
    behavior the reference's inferSchema ingest implies but never pins
    down (SURVEY.md §1 "schema evolution is unmanaged"). The oracle is
    the equivalent typed UNION over the original table."""
    c = table(spark, sf_dir, "customer")
    from pyspark.sql import functions as F

    from ..functions.numeric import cents

    def write_generations(tmp: str) -> None:
        c.filter("c_custkey % 2 = 0").select("c_custkey", "c_name").write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "gen1"))
        c.filter("c_custkey % 2 = 1").select(
            "c_custkey", "c_name", cents(F.col("c_acctbal")).alias("bal_c")
        ).write.mode("overwrite").parquet(os.path.join(tmp, "gen2"))

    # both generations are one unit: gen2's marker completes the directory
    path = _materialize(_cache_dir(sf_dir, "customer_evo"), write_generations,
                        os.path.join("gen2", "_SUCCESS"))
    return read_parquet_evolved(
        spark, os.path.join(path, "gen1"), os.path.join(path, "gen2")
    ).select("c_custkey", "c_name", "bal_c")


SCAN_SCHEMA_EVOLUTION_SQL = """
SELECT c_custkey, c_name, CAST(NULL AS BIGINT) AS bal_c
FROM customer WHERE c_custkey % 2 = 0
UNION ALL
SELECT c_custkey, c_name, CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT)
FROM customer WHERE c_custkey % 2 = 1
"""


QUERIES: dict[str, QuerySpec] = {
    "scan_schema_evolution": QuerySpec(
        scan_schema_evolution,
        SCAN_SCHEMA_EVOLUTION_SQL,
        "mergeSchema read across column-added parquet generations",
    ),
    "scan_csv": QuerySpec(scan_csv, SCAN_CSV_SQL, "CSV scan round-trip (S1)"),
    "scan_parquet": QuerySpec(scan_parquet, SCAN_PARQUET_SQL, "parquet scan (S2)"),
    "scan_text": QuerySpec(scan_text, SCAN_TEXT_SQL, "text-line scan (S5)"),
    "scan_json": QuerySpec(scan_json, SCAN_JSON_SQL, "JSON-lines scan round-trip"),
    "scan_orc": QuerySpec(scan_orc, SCAN_ORC_SQL, "ORC scan round-trip"),
}
