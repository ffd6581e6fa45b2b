"""Benchmark entry point: one workload, one seed, one Spark process.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Runs the package of the checkout that holds this directory against
``local[<cores>]``, one pass over the workload's operations, then checks
every operation's output. A pass of every workload takes longer than
``--seconds``; a run measures exactly one pass, so that a faster program
makes the same work cheaper instead of making a run do more of it. The
last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer ones (see perfbench/README.md).
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_dag_paris_velib_spark"

#: Bounded end-to-end metrics: set-up time, and the CPU seconds one pass
#: costs. wall_s, op_p50_s, op_tail_s and fail_share are printed too but not
#: bounded: on a shared virtual machine, CPU time stolen by other guests
#: moved wall_s by a quarter between runs while cpu_s stayed within 5%.
END_TO_END = {"setup_s": "s", "cpu_s": "s"}

_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(n: int) -> float | None:
    """The highest percentile of the ladder that leaves at least ten of n
    samples beyond its nearest-rank position, or None."""
    best = None
    for p in _LADDER:
        if n - math.ceil(p / 100.0 * n) >= 10:
            best = p
    return best


def nearest_rank(values: list[float], p: float) -> float:
    ordered = sorted(values)
    return ordered[max(1, math.ceil(p / 100.0 * len(ordered))) - 1]


def driver_memory() -> str:
    """A quarter of host memory, between 1 and 8 GiB."""
    gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(8, int(gib / 4)))}g"


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants: the
    JVM and the Python workers it forks. Reaped children count through
    their parent's cutime and cstime."""
    ticks = os.sysconf("SC_CLK_TCK")
    usage, children = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        usage[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        children.setdefault(int(fields[1]), []).append(int(entry))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += usage.get(pid, 0)
        todo += children.get(pid, [])
    return total / ticks


def configure(work: str, cores: int) -> dict[str, str]:
    """Process environment and session settings of a benchmark run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # Python workers import the package from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    retained = "1000000"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": driver_memory(),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the default 1000 silently drops the early jobs of a long run
        "spark.ui.retainedJobs": retained,
        "spark.ui.retainedStages": retained,
        "spark.sql.ui.retainedExecutions": retained,
    }


def warm_up(spark) -> None:
    """One SQL aggregation and one pandas-UDF call on synthetic rows: JIT,
    codegen and the Python worker pool, without any workload's own data."""
    from pyspark.sql import functions as F

    from etl_dag_paris_velib_spark.functions.udfs import make_minhash_sig_udf

    spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    warm = spark.range(64).select(
        F.array(F.concat(F.lit("warm-"), F.col("id").cast("string"))).alias("sh"))
    warm.select(make_minhash_sig_udf(4)(F.col("sh"))).collect()


def set_up(conf: dict[str, str], cores: int):
    """The cold session start, which launches the JVM, and the warm-up."""
    from etl_dag_paris_velib_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm_up(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def shut_down(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def measure(workload, tracer, surfaces):
    """One pass of the closed loop."""
    records = []
    for op in workload.schedule():
        with tracer.op(op.name) as span:
            try:
                result, error = op.run(), None
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                result, error = None, f"{type(exc).__name__}: {exc}"
                traceback.print_exc(file=sys.stderr)
        records.append((op, span, result, error))
        print(f"[perfbench] op {op.name} {span.end - span.start:.3f} s",
              file=sys.stderr, flush=True)
        if tracer.enabled:
            n, mb = surfaces.resident()
            tracer.peak("cacheutil.resident_rdds", n)
            tracer.peak("cacheutil.resident_mb", mb)
    return records


def check(records) -> int:
    failed = 0
    for op, _, result, error in records:
        if error is None:
            try:
                error = op.check(result)
            except Exception as exc:  # noqa: BLE001 - a failed check is counted, not fatal
                error = f"check raised {type(exc).__name__}: {exc}"
        if error is not None:
            failed += 1
            print(f"FAIL {op.name}: {error[:500]}", file=sys.stderr)
    return failed


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ next to {HERE}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "tools"))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        os.chdir(work)
        result = run(args, cores, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


class PhaseLog:
    """Wall time of each phase of the run, printed to stderr."""

    def __init__(self) -> None:
        self.t = time.perf_counter()

    def __call__(self, phase: str) -> None:
        now = time.perf_counter()
        print(f"[perfbench] {phase} {now - self.t:.2f} s", file=sys.stderr, flush=True)
        self.t = now


def run(args, cores: int, work: str) -> dict:
    import layers
    import workloads

    log = PhaseLog()
    conf = configure(work, cores)
    workload = workloads.WORKLOADS[args.workload]()
    workload.prepare(work, args.seed, os.path.join(ROOT, ".perfbench", "oracle"))
    log("prepare")
    spark, start_s, warm_s = set_up(conf, cores)
    log("set-up")
    try:
        tracer = layers.Tracer(enabled=bool(args.trace))
        surfaces = layers.SparkSurfaces(spark)
        workload.start(spark, tracer)
        if tracer.enabled:
            surfaces.attach_listener()
        cpu0 = tree_cpu_s()
        records = measure(workload, tracer, surfaces)
        cpu = tree_cpu_s() - cpu0
        log("measure")
        ops = [span for _, span, _, _ in records]
        wall = ops[-1].end - ops[0].start
        if wall < args.seconds:
            print(f"[perfbench] the pass took {wall:.1f} s, less than --seconds "
                  f"{args.seconds:g}: enlarge the workload", file=sys.stderr)
        heap = surfaces.heap_peak_mb() if tracer.enabled else None
        failed = check(records)
        log("check")
        progress = surfaces.detach_listener()
        snap = surfaces.snapshot() if tracer.enabled else None
        workload.close()
    finally:
        shut_down(spark)
    log("shut-down")

    lat = [s.end - s.start for s in ops]
    report = {
        "setup_s": (start_s + warm_s, 1),
        "cpu_s": (cpu, 1),
    }
    print(f"workload {args.workload}  seed {args.seed}  local[{cores}]  "
          f"{len(records)} ops  trace {args.trace}")
    for name, (value, n) in report.items():
        print(f"  {name:18s} {value:12.4f} {END_TO_END[name]:4s} (n={n})")
    print(f"  wall_s             {wall:12.4f} s    (n=1)")
    print(f"  op_p50_s           {statistics.median(lat):12.4f} s    (n={len(lat)})")
    p = tail_percentile(len(lat))
    if p is None:
        print(f"  op_tail_s          omitted: {len(lat)} ops leave no percentile 10 samples")
    else:
        print(f"  op_tail_s          {nearest_rank(lat, p):12.4f} s    (p{p:g}, n={len(lat)})")
    print(f"  fail_share         {failed}/{len(records)}  check {'PASS' if not failed else 'FAIL'}")

    if tracer.enabled:
        metrics = layers.layer_metrics(tracer, snap, progress)
        metrics["session.start_s"] = start_s
        metrics["session.warmup_s"] = warm_s
        metrics["jvm_heap_peak_mb"] = heap
        metrics["trace.wall_s"] = wall
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path)
        print(f"  spans written to {os.path.relpath(path, ROOT)}")
        out = {k: {"value": metrics[k], "unit": u} for k, u in layers.LAYER_METRICS.items()}
        for k, u in layers.LAYER_METRICS.items():
            print(f"  {k:34s} {metrics[k]:14.4f} {u}")
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in report.items()}
    return {"correct": failed == 0, "attempted": len(records), "failed": failed, "metrics": out}


if __name__ == "__main__":
    sys.exit(main())
