"""Sinks: CSV / partitioned-columnar / JDBC writers and the staged upsert.

Covers the reference's sink surface (SURVEY.md §2.2):

- K1 CSV write ≅ `/root/reference/src/seed/data_seed.py:241-243`.
- K2 JDBC write with mode + pre/postactions ≅
  `src/loading/readshift_loader.py:27-66` (kept behind an interface — no
  warehouse exists in the test env; validation is the option dict).
- K3 staged upsert ≅ `readshift_loader.py:68-149`. The reference emulates
  MERGE with SQL strings executed through a dummy-write `postactions` hack
  (`:151-182`). Here the merge itself is a pure DataFrame operation
  (`merge_upsert`) — updated rows take the update side, unmatched target rows
  survive — applied via a staged write: stage → merge → atomic swap. On Delta
  this is `MERGE INTO`; on plain parquet it is a rewrite with a tmp-dir swap.
- K4 partitioned columnar write ≅ the absent `S3Loader.write_delta`
  (`src/orchestration/main.py:138-143,201-206,262-267`,
  `config/config.json:69-70`): format parquet by default, delta when
  delta-spark is importable (not shipped in this env).

Scale: `merge_upsert`'s anti-join shuffles both sides on the key — correct
and unavoidable for an upsert; at 100 TB the win is partition-pruned rewrites
(partition the warehouse on a key prefix or date column via `partition_cols`
so the swap touches only affected partitions — Delta MERGE does this
automatically with partition predicates).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

try:  # delta-spark is optional; parquet is the default columnar format
    from delta.tables import DeltaTable  # type: ignore

    HAVE_DELTA = True
except ImportError:  # pragma: no cover
    DeltaTable = None
    HAVE_DELTA = False


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True) -> None:
    """K1: raw-zone CSV write (data_seed.py:241-243)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_partitioned(df: DataFrame, path: str, mode: str = "append",
                      partition_cols: Sequence[str] = (),
                      fmt: str = "parquet") -> None:
    """K4: partitioned columnar write (main.py:201-206 / config.json:69-70).

    Partitioning by low-cardinality date parts (transaction_year/month) gives
    free partition pruning to every downstream date-bounded scan.
    """
    writer = df.write.format(fmt).mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(path)


def write_delta(df: DataFrame, path: str, mode: str = "append",
                partition_cols: Sequence[str] = ()) -> None:
    """K4 in delta format when delta-spark is available."""
    if not HAVE_DELTA:
        raise NotImplementedError("delta-spark not installed in this environment")
    write_partitioned(df, path, mode, partition_cols, fmt="delta")


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append",
               properties: dict[str, str] | None = None,
               dry_run: bool = False) -> dict[str, str]:
    """K2: JDBC write ≅ readshift_loader.py:27-66. Returns the resolved
    option dict; `dry_run=True` (the only mode exercisable here — no
    warehouse in the test env) skips the save call."""
    if mode not in ("append", "overwrite", "error"):
        raise ValueError(f"Invalid write mode: {mode}")
    opts = {"url": url, "dbtable": table, **(properties or {})}
    if not dry_run:  # pragma: no cover - needs a live warehouse
        df.write.format("jdbc").mode(mode).options(**opts).save()
    return opts


def merge_upsert(target: DataFrame, updates: DataFrame,
                 key_columns: Sequence[str]) -> DataFrame:
    """K3's merge semantics as a pure DataFrame op.

    ≅ readshift_loader.py:103-124: UPDATE target rows matched on all
    key_columns (non-key columns take the update side), INSERT update rows
    with no match. Equivalent set form: updates ∪ (target ⟕anti updates) —
    one hash-partitioned anti-join on the keys instead of two warehouse SQL
    statements.
    """
    keys = list(key_columns)
    surviving = target.join(updates.select(*keys).dropDuplicates(keys),
                            on=keys, how="left_anti")
    return updates.unionByName(surviving.select(*updates.columns))


class ParquetWarehouse:
    """Directory-per-table warehouse with staged upsert — the reference's
    Redshift staging-table flow (readshift_loader.py:68-149) on columnar
    storage. Delta `MERGE INTO` when available; otherwise merge + tmp-dir
    swap (the swap is the non-transactional step plain parquet can't avoid —
    documented reason Delta is the preferred format at scale).

    One process per warehouse root: `exists` and `read` also undo a swap a
    crash cut in half (`_recover`), so a reader in a second process could
    move a live writer's old table back and make that write fail."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        self._recover(table)
        return os.path.isdir(self.path(table))

    def read(self, table: str) -> DataFrame:
        self._recover(table)
        return self.spark.read.parquet(self.path(table))

    def truncate_and_load(self, df: DataFrame, table: str) -> None:
        """≅ readshift_loader.py:130-141 (overwrite path)."""
        self._atomic_write(df, table)

    def load_with_staging(self, df: DataFrame, table: str,
                          key_columns: Sequence[str]) -> None:
        """≅ readshift_loader.py:68-149. First load short-circuits to a plain
        write (the reference's CREATE-LIKE + full insert collapses to this)."""
        if not self.exists(table):
            self._atomic_write(df, table)
            return
        if HAVE_DELTA and self._is_delta(table):  # pragma: no cover
            (DeltaTable.forPath(self.spark, self.path(table)).alias("t")
             .merge(df.alias("s"),
                    " AND ".join(f"t.{k} = s.{k}" for k in key_columns))
             .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())
            return
        merged = merge_upsert(self.read(table), df, key_columns)
        self._atomic_write(merged, table)

    def _is_delta(self, table: str) -> bool:
        return os.path.isdir(os.path.join(self.path(table), "_delta_log"))

    def _recover(self, table: str) -> None:
        """Undo a swap a crash cut in half. `_atomic_write` moves the live
        table to `<stage>/old` before it moves the new data in; a crash
        between the two renames leaves no table directory, and the next
        upsert would take the first-load path and keep only its own rows.
        The new data never went live, so the old table goes back."""
        final = self.path(table)
        if not os.path.isdir(final):
            olds = glob.glob(os.path.join(self.root, f"_{table}_stage_*", "old"))
            if olds:
                os.rename(max(olds, key=os.path.getmtime), final)

    def _atomic_write(self, df: DataFrame, table: str) -> None:
        """Write to a tmp dir, then swap directories. The merged plan reads
        the live table, so it must fully materialize before the swap.
        Stage directories of crashed writes are deleted first (only a
        writer does this, so a reader never deletes a live stage)."""
        self._recover(table)
        for leftover in glob.glob(os.path.join(self.root, f"_{table}_stage_*")):
            shutil.rmtree(leftover, ignore_errors=True)
        tmp = tempfile.mkdtemp(dir=self.root, prefix=f"_{table}_stage_")
        stage = os.path.join(tmp, "data")
        df.write.mode("overwrite").parquet(stage)
        final = self.path(table)
        if os.path.isdir(final):
            old = os.path.join(tmp, "old")
            os.rename(final, old)
        os.rename(stage, final)
        shutil.rmtree(tmp, ignore_errors=True)
