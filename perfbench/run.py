#!/usr/bin/env python3
"""Layered benchmark for banking_etl_pipeline_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads:

- ``etl_daily``: ``pipeline.run_all`` over seeded raw-zone CSV: customer and
  account upserted into a parquet warehouse, transactions appended to a
  partitioned target, every entity behind a DQ gate.
- ``queries_builder_heavy``: registry keys whose driver-side builder (Py4J
  round trips, build-time jobs) dominates.
- ``queries_scan_heavy``: registry keys whose execution (scans, shuffles,
  aggregates, windows) dominates.

Inputs are generated from ``--seed`` (cached under ``.perfbench_work``).
Units of work run back to back until ``--seconds`` have passed (at least
one). Outputs are checked against independent DuckDB computations, outside
the timed regions. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
A traced run first runs the same command untraced in a child process, so
``trace.overhead_s`` compares two fresh processes. See README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "banking_etl_pipeline_spark"
DRIVER_MEM = "2g"

SIZES = {
    # query tables at sf (TPC-H-like scale factor); banking entity counts
    "default": {"sf": 0.01, "customers": 3000, "accounts": 4500,
                "transactions": 40_000, "days": 4},
    "tiny": {"sf": 0.001, "customers": 300, "accounts": 450,
             "transactions": 3000, "days": 2},
}
WORKLOADS = ("etl_daily", "queries_builder_heavy", "queries_scan_heavy")
END_TO_END = {"setup_s": "s", "cpu_s": "s", "cold_cpu_s": "s"}


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="default")
    p.add_argument("--corrupt-output", action="store_true",
                   help="drop one warehouse row before the first ETL check "
                        "(self-test of the output check)")
    return p.parse_args()


def configure_env(run_dir: str) -> dict:
    """Run settings, identical on both sides of any comparison. Everything
    the run writes stays under ``run_dir``."""
    nproc = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local", "spark-warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "spark-warehouse"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return {"nproc": nproc, "SPARK_GRAFT_CPUS": nproc,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.relpath(
                os.environ["SPARK_LOCAL_DIRS"], ROOT)}


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return "unknown"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Session:
    """The SparkSession plus the JVM it runs in."""

    def __init__(self, conf: dict, tr):
        self.conf = conf
        self.tr = tr
        self.spark = None

    def start(self, warm_up: bool):
        from banking_etl_pipeline_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        self.tr.bind(self.spark)
        if warm_up:  # bench.py's noop-sink + codegen warm-up
            self.spark.range(1000).write.format("noop").mode(
                "overwrite").save()
        return self.spark

    def restart(self):
        self.spark.stop()
        return self.start(warm_up=False)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def cached(self) -> tuple[int, int]:
        """(persisted RDDs, their memory + disk bytes) of the live session."""
        jsc = self.spark.sparkContext._jsc
        infos = jsc.sc().getRDDStorageInfo()
        return (jsc.getPersistentRDDs().size(),
                sum(i.memSize() + i.diskSize() for i in infos))

    def shutdown(self) -> None:
        """Stop Spark and the gateway JVM, and wait until the JVM exits."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def untraced_child(args) -> list[dict]:
    """Run the same command untraced in a fresh process; its units."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload",
           args.workload, "--seed", str(args.seed), "--seconds",
           str(args.seconds), "--trace", "0", "--size", args.size]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                          timeout=170)
    if proc.returncode != 0:
        raise SystemExit(f"untraced child run failed ({proc.returncode})")
    return json.loads(proc.stdout.strip().splitlines()[-2])["units"]


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    untraced = untraced_child(args) if args.trace else None

    run_id = f"{args.workload}-{args.seed}-{'t' if args.trace else 'u'}"
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    settings = configure_env(run_dir)
    size = SIZES[args.size]

    import datagen
    import workloads
    from spans import EventLog, Tracer

    gen_cpu = time.process_time()
    data_root = os.path.join(WORK, "data")
    if args.workload == "etl_daily":
        inputs = datagen.banking_raw(
            data_root, args.seed, size["customers"], size["accounts"],
            size["transactions"], size["days"])
    else:
        inputs = datagen.query_tables(data_root, args.seed, size["sf"])
    gen_cpu = time.process_time() - gen_cpu

    tr = Tracer(traced=bool(args.trace), run_id=run_id)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    event_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    session = Session(conf, tr)

    try:
        with tr.span("session.start"):
            spark = session.start(warm_up=True)
        cpu = workloads.CpuClock(session.jvm_pid())
        with tr.span("registry.import"):
            from banking_etl_pipeline_spark.registry import all_queries
            queries = all_queries()

        if args.workload == "etl_daily":
            wl = workloads.EtlDaily(inputs, run_dir, size["days"], cpu,
                                    corrupt=args.corrupt_output)
            if args.trace:
                wl.instrument(tr)
        else:
            keys = (workloads.BUILDER_HEAVY
                    if args.workload == "queries_builder_heavy"
                    else workloads.SCAN_HEAVY)
            wl = workloads.QueryPanel(keys, inputs, session.restart, cpu)
        setup_errors = wl.setup(spark, tr, queries)
        attempted = 3 if args.workload == "etl_daily" else 0
        failed = len(setup_errors)
        errors = list(setup_errors)
        # set-up in CPU seconds (this process, the JVM and its workers), less
        # the benchmark's own input generation
        setup_s = cpu() - gen_cpu
        setup_wall_s = time.perf_counter() - T_START

        ops = []
        t_measure = time.perf_counter()
        while not ops or time.perf_counter() - t_measure < args.seconds:
            res = wl.op(spark, tr, len(ops))
            spark = res.pop("spark", spark)
            if args.trace:
                with tr.quiet():
                    res["persisted_rdds"], res["cached_bytes"] = (
                        session.cached())
            ops.append(res)
            attempted += res["attempted"]
            failed += res["failed"]
            errors += res["errors"]

        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(session.jvm_pid())
        record = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "sf": size["sf"] if args.workload != "etl_daily" else None,
            "etl_rows": (size["customers"], size["accounts"],
                         size["transactions"]) if args.workload == "etl_daily"
            else None,
            **settings,
            "pyspark": __import__("pyspark").__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "commit": git_commit(), "trace": args.trace, "units": len(ops),
            "setup_wall_s": setup_wall_s, "peak_rss_mb": peak_rss_mb,
        }
    finally:
        session.shutdown()

    if args.trace:
        from layers import per_layer_metrics

        metrics = per_layer_metrics(tr, EventLog(event_dir), ops,
                                    args.workload, untraced, peak_rss_mb)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tr.write_jsonl(os.path.join(WORK, "traces", f"{run_id}.jsonl"),
                       T_START)
    else:
        def median(key):
            return statistics.median(
                [o[key] for o in ops if o[key] is not None] or [0.0])

        values = {"setup_s": setup_s, "cpu_s": median("cpu_s"),
                  "cold_cpu_s": median("cold_cpu_s")}
        metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    shutil.rmtree(run_dir, ignore_errors=True)

    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({"settings": record}))
    print(json.dumps({"units": [{k: v for k, v in o.items()
                                 if k not in ("errors", "spark")}
                                for o in ops]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
