#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload engine_shared_scan --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository: the library is
imported from the checkout, never from an installed copy. The run
sets up (Spark session, seeded inputs, a warm-up action), times a
first (cold) operation, runs ``WARMING_OPS`` operations while the JIT
compiles the hot paths, then times operations back to back for
``--seconds`` (at least ``MIN_WARM_OPS`` of them), and checks every
result. Each operation is measured twice: its wall-clock latency and
the CPU time it costs the benchmark's process tree (this Python
process, the Spark JVM and its Python workers). The end-to-end
operation metrics are the CPU times: on a shared virtual machine the
hypervisor's CPU steal moves latency far more than the bounds allow,
and CPU time much less. It prints one line per measure with its sample
count and, last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log and the benchmark's spans and reports the per-layer
metrics instead; its spans are written under ``.perfbench_work/spans``.
Everything else the run writes lives under ``.perfbench_work/`` and is
removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# operations keep getting faster for several more after the first,
# while the JIT compiles Spark's hot paths
WARMING_OPS = 4
MIN_WARM_OPS = 5


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def driver_memory_mb() -> int:
    """4 GB, or a quarter of the machine's memory if that is less."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return min(4096, int(line.split()[1]) // 1024 // 4)
    return 4096


def start_session(work: str, cores: int, event_log: str | None):
    """The library's session, pinned: ``local[<cores>]``, a driver heap
    that fits the machine, no progress bars, scratch space inside the
    run's work directory; every other setting is the library default."""
    from filemapreduce_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # keep the JVM out of /tmp: its temp files and no hsperfdata
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process and every process below
    it: the Spark JVM and its Python workers. A child that has exited
    counts through its parent once the parent has waited for it."""
    me = os.getpid()
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the fields after the parenthesised command name
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # it has exited meanwhile
            continue
        parent[int(entry)] = int(fields[1])
        # utime, stime and the waited-for children's cutime, cstime
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])

    def mine(pid: int) -> bool:
        while pid not in (0, me):
            pid = parent.get(pid, 0)
        return pid == me

    return sum(t for pid, t in ticks.items() if mine(pid)) / os.sysconf("SC_CLK_TCK")


def warm_up(spark, cores: int) -> None:
    spark.range(0, 100_000, numPartitions=cores).selectExpr("sum(id)").collect()


def run(args, work: str) -> dict:
    from perfbench import layers
    from perfbench.eventlog import read_events, summarize
    from perfbench.spans import Tracer
    from perfbench.stats import Samples, median
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    bare = Tracer(False)
    wl = WORKLOADS[args.workload](args.seed, work, tracer)
    event_log = os.path.join(work, "eventlog") if args.trace else None

    with tracer.span("session.start"):
        spark = start_session(work, cores, event_log)
        warm_up(spark, cores)
    # process start to a session that has run its first action
    session_s = time.perf_counter() - T_START
    try:
        setup = Samples("setup repetition (inputs + warm-up)", "s")
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(spark, rep)
            warm_up(spark, cores)
            setup.add(time.perf_counter() - t)
        print(f"inputs: {wl.n_input_files} files, digest {wl.digest}")

        attempted = failed = 0
        cold = Samples("cold op latency", "s")
        cold_cpu = Samples("cold_op_cpu_s", "s")
        warming = Samples("warming op latency (not measured)", "s")
        warm = Samples("warm op latency", "s")
        warm_cpu = Samples("op_cpu_p50_s", "s")
        traced_ops, bare_seconds = [], []

        def one_op(n: int, instrumented: bool) -> tuple[float, float] | None:
            """Run and check operation ``n``; its wall and CPU seconds, or
            None if it failed."""
            nonlocal attempted, failed
            wl.tracer = tracer if instrumented else bare
            wl.before_op()
            attempted += 1
            cpu = tree_cpu_seconds()
            t = time.perf_counter()
            try:
                with wl.tracer.span("op", op=n):
                    result = wl.op(spark, n)
                seconds = time.perf_counter() - t
                cpu = tree_cpu_seconds() - cpu
                bad = wl.check(result)
            except Exception as e:  # a failed operation is counted, not fatal
                bad = [str(e)]
                traceback.print_exc(file=sys.stderr)
            if bad:
                failed += 1
                print(f"op {n} FAILED: " + "; ".join(bad))
                return None
            return seconds, cpu

        def record(wall: Samples, cpu: Samples | None, measured) -> None:
            if measured is not None:
                wall.add(measured[0])
                if cpu is not None:
                    cpu.add(measured[1])

        loop_cpu = tree_cpu_seconds()
        record(cold, cold_cpu, one_op(0, bool(args.trace)))
        # run, check and time the warming operations, but leave them out
        # of the measured ones
        for n in range(1, 1 + WARMING_OPS):
            record(warming, None, one_op(n, False))
        n = 1 + WARMING_OPS
        steal0, total0 = cpu_ticks()
        deadline = time.perf_counter() + args.seconds
        while n <= WARMING_OPS + MIN_WARM_OPS or time.perf_counter() < deadline:
            # traced runs alternate instrumented and bare operations, so
            # the tracing overhead is measured in the same session
            instrumented = bool(args.trace) and n % 2 == 0
            measured = one_op(n, instrumented)
            record(warm, warm_cpu, measured)
            if measured is not None:
                if instrumented:
                    traced_ops.append(n)
                else:
                    bare_seconds.append(measured[0])
            n += 1
        steal1, total1 = cpu_ticks()
        # when no operation succeeded, report the mean CPU time per attempt
        fallback = (tree_cpu_seconds() - loop_cpu) / attempted
    finally:
        stop_session(spark)

    print(f"session start = {session_s:.6g} s (from process start, n=1)")
    print(setup.describe())
    print(cold.describe())
    print(cold_cpu.describe())
    print(warming.describe())
    print(warm.describe())
    print(warm_cpu.describe())
    # time the hypervisor gave to other guests: a noisy-neighbour signal
    print(f"cpu steal while measuring = {(steal1 - steal0) / max(total1 - total0, 1):.2%}")
    peak_mb = max(wl.storage_samples.values(), default=0) / 2**20
    print(f"peak_cached_mb = {peak_mb:.6g} MB (max over {len(wl.storage_samples)} ops)")
    print(f"error_rate = {failed / attempted:.6g} ({failed} of {attempted} ops failed)")

    if args.trace:
        groups = summarize(read_events(event_log))
        spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_file = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
        tracer.dump(spans_file)
        print(f"spans: {spans_file}")
        metrics = layers.per_layer(tracer, groups, traced_ops, bare_seconds,
                                   wl.n_input_files, cores, wl.storage_samples)
        for name, (value, unit) in metrics.items():
            print(f"  {name} = {value:.6g} {unit}")
    else:
        metrics = {
            "setup_s": (session_s + median(setup.values), "s"),
            "cold_op_cpu_s": (cold_cpu.values[0] if cold_cpu.values else fallback, "s"),
            "op_cpu_p50_s": (median(warm_cpu.values) if warm_cpu.values else fallback, "s"),
            "peak_cached_mb": (peak_mb, "MB"),
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "filemapreduce_spark", "__init__.py")):
        print(f"perfbench: no filemapreduce_spark/ package beside {HERE}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # Python workers import the library too; clear the library's own
    # environment overrides so the session gets its defaults
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
