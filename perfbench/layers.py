"""Per-layer metrics of a traced run, from its spans and Spark event log.

A unit is one ``bench.unit`` span: one daily ``run_all`` for ``etl_daily``,
one pass for the query panels. Times are the median over units; counts that
must repeat exactly (Py4J calls) come from the first unit. Every metric is
printed for every workload; a layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics

from workloads import BUILDER_HEAVY, EtlDaily

LAYER_TIMES = {  # metric -> span name whose durations it sums
    "session.restart_s": "session.restart",
    "operators.build_s": "operators.build",
    "plans.plan_s": "plans.plan",
    "exec.first_s": "exec.first",
    "exec.warm_s": "exec.warm",
    "sources.read_s": "sources.read",
    "domain.transform_s": "domain.transform",
    "quality.check_s": "quality.check",
    "sinks.load_s": "sinks.load",
    **{f"pipeline.{e}_s": f"pipeline.{e}" for e in EtlDaily.ENTITIES},
}

UNITS = {  # metric -> unit, in print order
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "session.restart_s": "s",
    "session.persisted_rdds": "count",
    "session.cached_bytes": "bytes",
    "registry.import_s": "s",
    "operators.build_s": "s",
    "operators.py4j_calls": "count",
    "operators.build_jobs": "count",
    **{f"operators.build_s.{k}": "s" for k in BUILDER_HEAVY},
    **{f"operators.py4j_calls.{k}": "count" for k in BUILDER_HEAVY},
    "plans.plan_s": "s",
    "exec.first_s": "s",
    "exec.warm_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "sources.read_s": "s",
    "sources.jobs": "count",
    "domain.transform_s": "s",
    "quality.check_s": "s",
    "quality.jobs": "count",
    "sinks.load_s": "s",
    "sinks.jobs": "count",
    "sinks.bytes_written": "bytes",
    "sinks.write_amplification": "ratio",
    "pipeline.customer_s": "s",
    "pipeline.account_s": "s",
    "pipeline.transaction_s": "s",
    **{f"pipeline.source_reads.{e}": "ratio" for e in EtlDaily.ENTITIES},
    "trace.unit_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.explained_share": "fraction",
}

EXEC_KEYS = {"exec.jobs": "jobs", "exec.stages": "stages",
             "exec.tasks": "tasks", "exec.task_cpu_s": "cpu_s",
             "exec.input_bytes": "input_bytes",
             "exec.shuffle_read_bytes": "shuffle_read_bytes",
             "exec.shuffle_write_bytes": "shuffle_write_bytes",
             "exec.spill_bytes": "spill_bytes"}


def _unit_metrics(tr, log, unit, op: dict) -> dict:
    spans = tr.descendants(unit)

    def named(name):
        return [s for s in spans if s.name == name]

    def ids(name):
        return [s.sid for s in named(name)]

    m = {metric: sum(s.duration for s in named(name))
         for metric, name in LAYER_TIMES.items()}
    builds = named("operators.build")
    m["operators.py4j_calls"] = sum(s.py4j for s in builds)
    m["operators.build_jobs"] = log.totals(ids("operators.build"))["jobs"]
    for k in BUILDER_HEAVY:
        mine = [s for s in builds if s.attrs.get("key") == k]
        m[f"operators.build_s.{k}"] = sum(s.duration for s in mine)
        m[f"operators.py4j_calls.{k}"] = sum(s.py4j for s in mine)
    ex = log.totals(ids("exec.first") + ids("exec.warm"))
    m.update({metric: ex[key] for metric, key in EXEC_KEYS.items()})
    m["sources.jobs"] = log.totals(ids("sources.read"))["jobs"]
    m["quality.jobs"] = log.totals(ids("quality.check"))["jobs"]
    sink = log.totals(ids("sinks.load"))
    m["sinks.jobs"] = sink["jobs"]
    m["sinks.bytes_written"] = sink["output_bytes"]
    m["sinks.write_amplification"] = (
        sink["output_bytes"] / op["input_bytes"] if "input_bytes" in op
        else 0.0)
    for e in EtlDaily.ENTITIES:
        subtree = [s.sid for s in named(f"pipeline.{e}")]
        for s in named(f"pipeline.{e}"):
            subtree += [d.sid for d in tr.descendants(s)]
        read = log.totals(subtree)["source_input_bytes"]
        m[f"pipeline.source_reads.{e}"] = (
            read / op["source_bytes"][e] if "source_bytes" in op else 0.0)
    m["session.persisted_rdds"] = op.get("persisted_rdds", 0)
    m["session.cached_bytes"] = op.get("cached_bytes", 0)
    bench = sum(s.duration for s in spans if s.layer == "bench")
    layer_self = sum(tr.self_time(s) for s in spans if s.layer != "bench")
    m["trace.explained_share"] = layer_self / (unit.duration - bench)
    return m


def _median_wall(ops: list[dict]) -> float:
    return statistics.median([o["wall_s"] for o in ops
                              if o["wall_s"] is not None] or [0.0])


def per_layer_metrics(tr, log, ops: list[dict], workload: str,
                      untraced_ops: list[dict], peak_rss_mb: float) -> dict:
    units = [s for s in tr.spans
             if s.name == "bench.unit" and s.attrs.get("phase") != "setup"]
    rows = [_unit_metrics(tr, log, u, op) for u, op in zip(units, ops)]
    out = {}
    for metric in rows[0]:
        if "py4j" in metric:
            out[metric] = rows[0][metric]
        else:
            out[metric] = statistics.median(r[metric] for r in rows)
    top = {s.name: s.duration for s in tr.spans if s.parent is None}
    out["session.start_s"] = top["session.start"]
    out["registry.import_s"] = top["registry.import"]

    out["session.peak_rss_mb"] = peak_rss_mb
    out["trace.unit_wall_s"] = _median_wall(ops)
    out["trace.overhead_s"] = _median_wall(ops) - _median_wall(untraced_ops)
    return {k: (out[k], u) for k, u in UNITS.items()}
