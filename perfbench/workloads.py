"""The benchmark's workloads.

Each workload has ``setup`` (counted in set-up time) and ``op`` (one timed
unit of work). ``op`` returns the unit's wall and CPU seconds (``wall_s``,
``cpu_s``, and ``cold_cpu_s``, the CPU spent before each operation's first
result), the operations it attempted and the ones that failed.

- ``EtlDaily``: set-up is the initial load. One op is one simulated day:
  ``pipeline.run_all`` over the day's raw-zone files, starting from the
  post-set-up warehouse and partitioned target (restored before each run,
  outside the timing).
- ``QueryPanel``: one op is one pass over a fixed list of registry keys in a
  fresh SparkSession: per key build, force the physical plan, run once
  through the noop sink (cold), then run again (warm).
"""

from __future__ import annotations

import os
import shutil
import time

import checks

BUILDER_HEAVY = ["ann_lsh", "dedup_embedding_cosine", "lsh_candidate_report",
                 "dup_clusters"]

SCAN_HEAVY = ["pricing_summary", "shipping_priority", "market_share",
              "window_running_sum", "sessionization", "percentiles"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_cpu(path: str) -> float:
    """utime + stime + reaped children's, from a /proc stat file, in s."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:  # exited between listing and reading
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _TICK


class CpuClock:
    """CPU seconds of work done so far: this process, the driver JVM (which
    runs the local-mode tasks) and the JVM's child processes (Python
    workers), less the JVM's JIT compiler threads.

    JIT compilation is 40-50% of the JVM's CPU in a run this short and
    varies by a quarter between identical runs, so it is left out; the JVM
    runs with a fixed set of compiler threads so that their CPU stays
    attributable."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        tasks = f"/proc/{jvm_pid}/task"
        self.compilers = []
        for tid in os.listdir(tasks):
            with open(f"{tasks}/{tid}/comm") as f:
                if "CompilerThre" in f.read():
                    self.compilers.append(f"{tasks}/{tid}/stat")

    def jit(self) -> float:
        return sum(_proc_cpu(p) for p in self.compilers)

    def __call__(self) -> float:
        total = (time.process_time() + _proc_cpu(f"/proc/{self.jvm}/stat")
                 - self.jit())
        tasks = f"/proc/{self.jvm}/task"
        for tid in os.listdir(tasks):
            try:
                with open(f"{tasks}/{tid}/children") as f:
                    total += sum(_proc_cpu(f"/proc/{c}/stat")
                                 for c in f.read().split())
            except OSError:
                pass
        return total


class EtlDaily:
    ENTITIES = ("customer", "account", "transaction")
    SOURCE = {"customer": "customers.csv", "account": "accounts.csv",
              "transaction": "transactions.csv"}

    def __init__(self, raw_dir: str, work: str, n_days: int, cpu,
                 corrupt: bool = False):
        self.cpu = cpu
        self.days = [os.path.join(raw_dir, f"day{d}") for d in
                     range(1, n_days + 1)]
        self.base = os.path.join(raw_dir, "base")
        self.warehouse_root = os.path.join(work, "etl", "warehouse")
        self.target = os.path.join(work, "etl", "transactions")
        self.pristine = os.path.join(work, "etl", "pristine")
        self.corrupt = corrupt

    def config(self, src: str) -> dict:
        """The day's run in the reference config.json shape."""
        def dq(required, key, ranges):
            return {"required_columns": required, "key_columns": [key],
                    "range_checks": ranges}
        return {"pipelines": {
            "customer": {
                "source_type": "s3",
                "source_path": os.path.join(src, self.SOURCE["customer"]),
                "target_type": "redshift", "target_table": "dim_customer",
                "key_columns": ["customer_id"],
                "data_quality": dq(["customer_id", "first_name", "email"],
                                   "customer_id",
                                   {"credit_score": [300, 850]}),
                "fail_on_quality_check": True,
            },
            "account": {
                "source_type": "s3",
                "source_path": os.path.join(src, self.SOURCE["account"]),
                "target_type": "redshift", "target_table": "dim_account",
                "key_columns": ["account_id"],
                "data_quality": dq(["account_id", "customer_id",
                                    "account_type", "open_date"],
                                   "account_id",
                                   {"balance": [0, 10_000_000],
                                    "interest_rate": [0, 30]}),
                "fail_on_quality_check": True,
            },
            "transaction": {
                "source_type": "s3",
                "source_path": os.path.join(src, self.SOURCE["transaction"]),
                "target_type": "s3", "target_path": self.target,
                "write_mode": "append",
                "partition_cols": ["transaction_year", "transaction_month"],
                "data_quality": dq(["transaction_id", "account_id",
                                    "transaction_date", "amount"],
                                   "transaction_id",
                                   {"amount": [-1_000_000, 1_000_000]}),
                "fail_on_quality_check": True,
            },
        }}

    @staticmethod
    def instrument(tr) -> None:
        """Traced runs only: wrap the layer entry points ``run_all`` calls
        (entity pipeline, source read, transform, DQ gate, sink) in spans.
        The wrappers live in this process; the program is unchanged."""
        from banking_etl_pipeline_spark import pipeline
        from banking_etl_pipeline_spark.operators.quality import QualityChecker

        def wrap(fn, name):
            def traced(*args, **kwargs):
                with tr.span(name):
                    return fn(*args, **kwargs)
            return traced

        run_pipeline = pipeline.run_pipeline

        def traced_run_pipeline(spark, spec, warehouse=None):
            with tr.span(f"pipeline.{spec.entity}"):
                return run_pipeline(spark, spec, warehouse)

        pipeline.run_pipeline = traced_run_pipeline
        pipeline.SourceSpec.read = wrap(pipeline.SourceSpec.read,
                                        "sources.read")
        for entity, fn in list(pipeline.TRANSFORMS.items()):
            pipeline.TRANSFORMS[entity] = wrap(fn, "domain.transform")
        QualityChecker.run_all_checks = wrap(QualityChecker.run_all_checks,
                                             "quality.check")
        pipeline.TargetSpec.write = wrap(pipeline.TargetSpec.write,
                                         "sinks.load")

    def _run_all(self, spark, tr, src: str, phase: str) -> tuple[float, float]:
        """(wall, CPU) seconds of one ``run_all``."""
        from banking_etl_pipeline_spark.pipeline import load_config, run_all

        with tr.span("bench.unit", phase=phase):
            t, c = time.perf_counter(), self.cpu()
            with tr.span("pipeline.run_all"):
                run_all(spark, load_config(self.config(src)), self.warehouse)
            return time.perf_counter() - t, self.cpu() - c

    def _check(self, src: str) -> list[str]:
        wh = self.warehouse_root
        if self.corrupt:
            checks.drop_one_row(os.path.join(wh, "dim_customer"))
            self.corrupt = False
        day = None if src == self.base else src
        loaded = [self.base] + ([day] if day else [])
        errors = [
            checks.check_warehouse_table(
                "customer", os.path.join(wh, "dim_customer"),
                os.path.join(self.base, "customers.csv"),
                day and os.path.join(day, "customers.csv")),
            checks.check_warehouse_table(
                "account", os.path.join(wh, "dim_account"),
                os.path.join(self.base, "accounts.csv"),
                day and os.path.join(day, "accounts.csv")),
            checks.check_partitioned_target(
                self.target,
                [os.path.join(d, "transactions.csv") for d in loaded]),
        ]
        return [e for e in errors if e]

    def setup(self, spark, tr, queries) -> list[str]:
        """The initial load: fills the warehouse, so every timed run takes
        the upsert path, and the transaction target."""
        from banking_etl_pipeline_spark.sinks.writers import ParquetWarehouse

        shutil.rmtree(os.path.dirname(self.warehouse_root), ignore_errors=True)
        self.warehouse = ParquetWarehouse(spark, self.warehouse_root)
        self._run_all(spark, tr, self.base, "setup")
        for live, saved in self._state():
            shutil.copytree(live, saved)
        return self._check(self.base)

    def _state(self):
        return ((self.warehouse_root, os.path.join(self.pristine, "warehouse")),
                (self.target, os.path.join(self.pristine, "target")))

    def _restore(self) -> None:
        for live, saved in self._state():
            shutil.rmtree(live)
            shutil.copytree(saved, live)

    def op(self, spark, tr, i: int) -> dict:
        """One daily run over day ``i``'s files, from the post-set-up state."""
        src = self.days[i % len(self.days)]
        n = len(self.ENTITIES)
        sizes = {e: os.path.getsize(os.path.join(src, f))
                 for e, f in self.SOURCE.items()}
        out = {"attempted": n, "failed": 0, "errors": [],
               "input_bytes": sum(sizes.values()), "source_bytes": sizes}
        self._restore()
        try:
            out["wall_s"], out["cpu_s"] = self._run_all(spark, tr, src, "day")
        except Exception as exc:  # counted, reported, run continues
            out.update(failed=n, wall_s=None, cpu_s=None, cold_cpu_s=None,
                       errors=[f"run_all: {exc!r}"[:300]])
            return out
        out["errors"] = self._check(src)
        out["failed"] = len(out["errors"])
        # a daily run reads new files and builds new plans: all of it is cold
        out["cold_cpu_s"] = out["cpu_s"]
        return out


class QueryPanel:
    def __init__(self, keys: list[str], tables_dir: str, restart, cpu):
        self.cpu = cpu
        self.keys = keys
        self.tables_dir = tables_dir
        self.restart = restart  # () -> fresh SparkSession

    def setup(self, spark, tr, queries) -> list[str]:
        from banking_etl_pipeline_spark.catalog import TABLES

        missing = [k for k in self.keys if k not in queries]
        self.specs = {k: queries[k] for k in self.keys if k in queries}
        self.oracle = checks.QueryOracle(self.tables_dir, TABLES)
        return [f"{k}: not in the registry" for k in missing]

    def op(self, spark, tr, i: int) -> dict:
        with tr.span("bench.unit"):
            return self._pass(spark, tr, i)

    def _pass(self, spark, tr, i: int) -> dict:
        if i > 0:
            with tr.span("session.restart"):
                spark = self.restart()
        out = {"attempted": 0, "failed": 0, "errors": [], "wall_s": 0.0,
               "cpu_s": 0.0, "cold_cpu_s": 0.0, "keys": {}, "spark": spark}
        for key, spec in self.specs.items():
            out["attempted"] += 1
            try:
                c0, t0 = self.cpu(), time.perf_counter()
                with tr.span("operators.build", key=key):
                    df = spec.build(spark, self.tables_dir)
                t1 = time.perf_counter()
                with tr.span("plans.plan", key=key):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with tr.span("exec.first", key=key):
                    _noop(df)
                t3, c3 = time.perf_counter(), self.cpu()
                with tr.span("exec.warm", key=key):
                    _noop(df)
                t4, c4 = time.perf_counter(), self.cpu()
            except Exception as exc:  # counted, reported, pass continues
                out["failed"] += 1
                out["errors"].append(f"{key}: {exc!r}"[:300])
                continue
            out["wall_s"] += t4 - t0
            out["cpu_s"] += c4 - c0
            out["cold_cpu_s"] += c3 - c0
            out["keys"][key] = {"build_s": t1 - t0, "plan_s": t2 - t1,
                                "first_s": t3 - t2, "warm_s": t4 - t3,
                                "cold_cpu_s": c3 - c0, "warm_cpu_s": c4 - c3}
            if i == 0:  # outputs are checked on the first pass, untimed
                with tr.quiet(), tr.span("bench.check", key=key):
                    error = self._check(key, spec, df)
                if error:
                    out["failed"] += 1
                    out["errors"].append(error)
        return out

    def _check(self, key: str, spec, df) -> str | None:
        try:
            rows = [r.asDict(recursive=True) for r in df.collect()]
            return self.oracle.check(key, rows, df.columns, spec.oracle)
        except Exception as exc:
            return f"{key} check: {exc!r}"[:300]
