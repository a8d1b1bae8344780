"""Per-layer metrics of a traced run, from its spans and its event log.

Every metric is computed per instrumented warm operation and reported
as the median over those operations (``session.start_s`` is a single
span; ``operators.python_start_s`` is taken from the cold operation,
where the Python workers start). A layer the workload does not exercise
reads 0. Spans are sequential, so a span's self time is its duration
minus its children's.
"""

from __future__ import annotations

from perfbench.eventlog import GroupStats, merged
from perfbench.spans import Tracer
from perfbench.stats import median
from perfbench.workloads import RegistrySlice

# Spark 4.1 names of the Python evaluation operators' SQL metrics
PYTHON_START = ("time to start Python workers",
                "time to initialize Python workers and start Python functions")
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")

UNITS = {
    "session.start_s": "s",
    "sources.files_read": "count",
    "sources.scan_share_ratio": "ratio",
    "sources.bytes_read": "bytes",
    "sources.scan_s": "s",
    "core.engine.job_action_s": "s",
    "core.engine.first_action_s": "s",
    "core.engine.self_s": "s",
    "core.engine.spark_jobs": "count",
    "core.engine.cached_bytes": "bytes",
    "core.parents.job_action_s": "s",
    "core.parents.broadcast_bytes": "bytes",
    "core.parents.broadcast_build_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    **{f"queries.{q}.exec_s": "s" for q in RegistrySlice.QUERIES},
    "operators.python_run_s": "s",
    "operators.python_start_s": "s",
    "operators.python_bytes": "bytes",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.broadcast_bytes": "bytes",
    "spark.broadcast_build_s": "s",
    "spark.codegen_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_memory_bytes": "bytes",
    "spark.task_skew_max": "ratio",
    "spark.failed_tasks": "count",
    "trace.cold_op_s": "s",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
}


def _med(values: list[float]) -> float:
    return median(values) if values else 0.0


def _op_metrics(op: int, tracer: Tracer, groups: dict[str, GroupStats],
                n_input_files: int, cores: int, storage: int) -> dict[str, float]:
    g = merged(groups, f"op{op}/")
    (op_span,) = tracer.named("op", op)
    files_read = g.sql_sum("number of files read", "Scan")
    out = {
        "sources.files_read": files_read,
        "sources.scan_share_ratio": files_read / n_input_files,
        "sources.bytes_read": g.input_bytes,
        "sources.scan_s": g.sql_sum("scan time"),
        "operators.python_run_s": g.sql_sum("time to run Python workers"),
        "operators.python_bytes": sum(g.sql_sum(m) for m in PYTHON_BYTES),
        "sinks.write_s": sum(s.seconds for s in tracer.named("sinks.write", op)),
        "sinks.files_written": g.sql_sum("number of written files"),
        "sinks.bytes_written": g.output_bytes,
        "spark.tasks": g.tasks,
        "spark.stages": len(g.stages),
        "spark.executor_run_s": g.run_ms / 1e3,
        "spark.executor_cpu_s": g.cpu_ns / 1e9,
        "spark.busy_ratio": g.run_ms / 1e3 / (op_span.seconds * cores),
        "spark.gc_s": g.gc_ms / 1e3,
        "spark.shuffle_write_bytes": g.shuffle_write_bytes,
        "spark.shuffle_fetch_wait_s": g.fetch_wait_ms / 1e3,
        "spark.broadcast_bytes": g.sql_sum("data size", "BroadcastExchange"),
        "spark.broadcast_build_s": g.sql_sum("time to build", "BroadcastExchange"),
        "spark.codegen_s": g.sql_sum("duration", "WholeStageCodegen"),
        "spark.spill_bytes": g.spill_bytes,
        "spark.peak_exec_memory_bytes": g.peak_exec_memory,
        "spark.task_skew_max": g.task_skew_max(),
        "spark.failed_tasks": g.failed_tasks,
    }
    runs = tracer.named("core.engine.run", op)
    if runs:
        actions = tracer.named("core.engine.job_action", op)
        parent_jobs = [s for s in actions if s.attrs["parents"]]
        parents = GroupStats()
        for s in parent_jobs:
            parents.merge(groups.get(f"op{op}/{s.attrs['job']}", GroupStats()))
        out.update({
            "core.engine.job_action_s": _med([s.seconds for s in actions]),
            "core.engine.first_action_s": actions[0].seconds,  # spans are in run order
            "core.engine.self_s": tracer.self_seconds(runs[0]),
            "core.engine.spark_jobs": len(g.jobs),
            "core.engine.cached_bytes": storage,
            "core.parents.job_action_s": sum(s.seconds for s in parent_jobs),
            "core.parents.broadcast_bytes": parents.sql_sum("data size", "BroadcastExchange"),
            "core.parents.broadcast_build_s": parents.sql_sum("time to build",
                                                              "BroadcastExchange"),
        })
    execs = tracer.named("queries.exec", op)
    if execs:
        out["queries.build_s"] = sum(s.seconds for s in tracer.named("queries.build", op))
        out["queries.exec_s"] = sum(s.seconds for s in execs)
        out.update((f"queries.{s.attrs['query']}.exec_s", s.seconds) for s in execs)
    return out


def per_layer(tracer: Tracer, groups: dict[str, GroupStats], traced_ops: list[int],
              bare_op_seconds: list[float], n_input_files: int, cores: int,
              storage: dict[int, int]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric as ``name -> (value, unit)``."""
    per_op = [_op_metrics(op, tracer, groups, n_input_files, cores, storage.get(op, 0))
              for op in traced_ops]
    (session,) = tracer.named("session.start")
    cold = merged(groups, "op0/")
    out = {
        "session.start_s": (session.seconds, "s"),
        "operators.python_start_s": (sum(cold.sql_sum(m) for m in PYTHON_START), "s"),
    }
    out.update((name, (_med([m.get(name, 0.0) for m in per_op]), unit))
               for name, unit in UNITS.items() if name not in out and not name.startswith("trace."))
    traced = _med([s.seconds for s in tracer.spans if s.name == "op" and s.op in traced_ops])
    (cold_op,) = tracer.named("op", 0)
    out["trace.cold_op_s"] = (cold_op.seconds, "s")
    out["trace.op_p50_s"] = (traced, "s")
    out["trace.overhead_s"] = (traced - _med(bare_op_seconds), "s")
    return out
