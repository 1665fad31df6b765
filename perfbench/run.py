"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One process = one run: it generates
the workload's inputs from the seed, starts a local session (one task
thread per core, or fewer where the workload says so),
opens the inputs, warms up, then runs operations one after another (a
closed loop with one client) until `--seconds` of operations have
completed, checking every output against the oracle.  The last line of
stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` turns on
Spark's event log and the benchmark's spans and reports the per-layer
metrics instead.  Everything the run writes lives under
`.perfbench_run/` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Session pinned from outside the program: below the host's memory, a
# fixed shuffle width and Arrow batch, no UI.
DRIVER_MEMORY = "2g"
JVM_OPTIONS = "-Xmn512m"
SHUFFLE_PARTITIONS = 8
ARROW_BATCH_ROWS = 10_000
# the timed loop stops this long after start even if ops are slow, so a
# run, traced or not, ends within three minutes
DEADLINE_S = 120.0


def _args():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _peak_rss_mb() -> float:
    """Sum of VmHWM over the session's JVM and Python workers (every
    descendant of this client process)."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (the steal column of /proc/stat), in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _cpu_probe_ms() -> float:
    """Median time of a fixed single-threaded numpy sort: a reading of
    the host's speed that does not involve the engine, taken before the
    session starts and after the timed loop."""
    import numpy as np

    a = np.random.default_rng(0).random(1_000_000)
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        np.sort(a)
        times.append(time.perf_counter() - t0)
    return 1000.0 * statistics.median(times)


def _warm_pages(paths: list[str]) -> None:
    """Read every input file once so the timed ops see a warm page cache."""
    for root in paths:
        for dirpath, _, files in os.walk(root):
            for fn in files:
                with open(os.path.join(dirpath, fn), "rb") as f:
                    while f.read(1 << 24):
                        pass


def _stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited
    (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _run_op(wl, i: int, tracer, span: str) -> tuple[int, float, str | None]:
    """One operation; an op that raises counts as failed, and the run
    goes on with the next one."""
    t0 = time.perf_counter()
    with tracer.span("perfbench", span):
        try:
            return wl.op(i)
        except Exception:
            return 0, time.perf_counter() - t0, traceback.format_exc(limit=3)


def _clean_stale(base: str) -> None:
    """Remove run directories whose process is gone (a killed run)."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def main() -> int:
    args = _args()
    t_start = time.perf_counter()
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import diagonal_b6_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}", file=sys.stderr)
        return 2
    import pyspark

    import spans as tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench_run")
    _clean_stale(base)
    run_dir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "local"))
    nproc = len(os.sched_getaffinity(0))
    settings = {
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(settings)
    conf = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed young generation makes the JVM's resident footprint
        # depend on retained data, not on the collector's adaptive sizing
        "spark.driver.extraJavaOptions": JVM_OPTIONS,
    }
    if args.trace:
        os.makedirs(os.path.join(run_dir, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    tracer = tracing.Tracer(bool(args.trace))
    steal0 = _steal_s()
    cpu_probe_ms = [_cpu_probe_ms()]
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload](run_dir, args.seed, tracer)
        t_gen = time.perf_counter() - t_start
        cores = min(wl.cores or nproc, nproc)

        from diagonal_b6_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
        start_s = time.perf_counter() - t0
        _warm_pages(wl.input_paths())
        wl.open(spark)
        attempted = failed = 0
        errors: list[str] = []
        warm_curve = []
        for i in range(wl.warmup):
            _, dt, err = _run_op(wl, i, tracer, "warmup")
            warm_curve.append(round(dt, 3))
            attempted += 1
            if err:
                failed += 1
                errors.append(f"warm-up op {i}: {err}")
        setup_s = time.perf_counter() - t0
        # the oracle answers are large, long-lived object graphs: move them
        # out of the collector's reach so its pauses do not land in ops
        gc.collect()
        gc.freeze()

        lat_s: list[float] = []
        items = 0
        i = wl.warmup
        while time.perf_counter() - t_start < DEADLINE_S:
            # stop at the number of ops whose time is nearest to --seconds
            if lat_s and sum(lat_s) >= args.seconds - statistics.fmean(lat_s) / 2:
                break
            n, dt, err = _run_op(wl, i, tracer, "op")
            i += 1
            attempted += 1
            lat_s.append(dt)
            if err:
                failed += 1
                errors.append(f"op {i - 1}: {err}")
            else:
                items += n
        rss_mb = _peak_rss_mb()
        cpu_probe_ms.append(_cpu_probe_ms())
        e2e = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (items / sum(lat_s), "1/s"),
            "p50_ms": (1000.0 * statistics.median(lat_s), "ms"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
        if args.trace:
            import layers

            kernels = layers.kernel_timings(*wl.kernel_inputs())
            wl.probe()
            _stop_session(spark)
            spark = None
            log = tracing.parse_event_log(os.path.join(run_dir, "events"))
            metrics = layers.per_layer(tracer.spans, log, start_s, kernels, e2e)
        else:
            metrics = e2e
        info = {
            "workload": wl.name,
            "item": wl.item,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "ops_timed": len(lat_s),
            "warmup_curve_s": warm_curve,
            "latencies_s": [round(v, 4) for v in lat_s],
            "op_detail": wl.detail,
            "steal_s": round(_steal_s() - steal0, 2),
            "cpu_probe_ms": [round(v, 2) for v in cpu_probe_ms],
            "input_gen_s": round(t_gen, 3),
            "inputs": wl.inputs,
            "host": {"nproc": nproc, "python": platform.python_version(), "pyspark": pyspark.__version__,
                     "numpy": __import__("numpy").__version__, "pyarrow": __import__("pyarrow").__version__},
            "settings": dict(settings, shuffle_partitions=SHUFFLE_PARTITIONS, cores=cores, **conf),
            "errors": errors[:10],
        }
        if args.trace:
            info["spans"] = [s.__dict__ for s in tracer.spans]
        print(json.dumps({"perfbench": info}, default=str))
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
