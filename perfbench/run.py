"""voluptuous_spark benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload clips_suite --seed 1 --seconds 5 --trace 0

Run from the repository root. The run starts a local Spark session with one
task slot per CPU, builds its inputs from ``--seed``, runs the workload's
warm-up ops (counted in ``setup_s``), then times ops until ``--seconds`` have
passed, and checks every op's outputs outside the timed region.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are end to end;
with ``--trace 1`` they are per layer, taken from spans around calls into
the package and from Spark's event log. The line before it describes the
host, the inputs and every op time.

Everything the run writes (Spark scratch, event log, generated tables, JVM
crash files) goes under ``.perfbench_work/`` in the repository root and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_RUN_S = 150  # the run must end within 180 s; stop measuring before that


def _meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(key)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def configure_env(work: str) -> int:
    """Size the driver from host RAM and keep every file the session writes
    inside ``work``. Must run before pyspark is imported."""
    slots = len(os.sched_getaffinity(0))
    heap_mb = min(4096, max(1024, _meminfo_mb("MemTotal") // 8 // 256 * 256))
    for d in ("local", "tmp", "events"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update({
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_OFFHEAP_MEMORY": f"{heap_mb // 2}m",
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import voluptuous_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return slots


def start_session(work: str, trace: bool):
    from voluptuous_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp "
            f"-XX:ErrorFile={work}/hs_err_pid%p.log "
            f"-Dderby.system.home={work}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        pass  # reap_jvm kills it


def reap_jvm() -> None:
    """Kill a JVM that a failed or interrupted run left behind."""
    context = sys.modules.get("pyspark.core.context")
    gateway = context and context.SparkContext._gateway
    if gateway is not None and gateway.proc.poll() is None:
        gateway.proc.kill()
        gateway.proc.wait()


def trend(op_ms: list[float], kinds: list) -> dict:
    """Least-squares slope of op time against op index, per op and as a
    share of the median, and the ratio of the second half's median to the
    first's. Each op is first divided by the median of its kind, so a mix
    of document kinds shows no trend unless the ops themselves drift."""
    n = len(op_ms)
    if n < 2:
        return {"slope_frac_per_op": None, "halves_ratio": None}
    med = {k: statistics.median([t for t, j in zip(op_ms, kinds) if j == k])
           for k in set(kinds)}
    rel = [t / med[k] for t, k in zip(op_ms, kinds)]
    xm, ym = (n - 1) / 2, statistics.fmean(rel)
    slope = (sum((i - xm) * (y - ym) for i, y in enumerate(rel))
             / sum((i - xm) ** 2 for i in range(n)))
    h = n // 2
    return {"slope_frac_per_op": slope,
            "halves_ratio": statistics.median(rel[h:])
            / statistics.median(rel[:h])}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "voluptuous_spark")):
        print("perfbench: voluptuous_spark not found beside perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2

    # a terminated run still removes its files and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    slots = configure_env(work)
    os.chdir(work)  # the JVM writes derby/metastore/crash files to its cwd
    sys.path[:0] = [ROOT, HERE]
    try:
        return run(args, work, slots, t_start)
    finally:
        reap_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it


def run(args, work: str, slots: int, t_start: float) -> int:
    import pyspark

    from spans import Tracer
    from workloads import SHARED_LAYERS, WORKLOADS, spark_layers

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpu0 = _cpu_times()
    tracer = Tracer(bool(args.trace))

    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        tracer.attach(sc)
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        t0 = time.perf_counter()
        wl.setup()
        data_s = time.perf_counter() - t0

        failures: dict[int, list[str]] = {}
        warm_ms = []
        for k in range(wl.warmup):
            t0 = time.perf_counter()
            out = wl.op()
            warm_ms.append((time.perf_counter() - t0) * 1000.0)
            bad = wl.check(out)
            if bad:
                failures[-1 - k] = bad
        setup_s = session_s + data_s + sum(warm_ms) / 1000.0

        op_ms, op_spans, kinds = [], [], []
        t_measure = time.perf_counter()
        # whole blocks of ops, so every run measures the same input mix and,
        # where one block outlasts --seconds, the same ordinal ops
        while ((time.perf_counter() - t_measure < args.seconds
                or len(op_ms) % wl.block)
               and time.perf_counter() - t_start < MAX_RUN_S):
            with tracer.span("op") as s:
                t0 = time.perf_counter()
                out = wl.op()
                op_ms.append((time.perf_counter() - t0) * 1000.0)
            op_spans.append(s)
            kinds.append(wl.kind(out))
            bad = wl.check(out)
            if bad:
                failures[len(op_ms) - 1] = bad
        failures.update(wl.finish())

        jvm = sc._jvm
        rss_mb = (_hwm_mb(jvm.java.lang.ProcessHandle.current().pid())
                  + _hwm_mb("self"))
        host = {
            "nproc": os.cpu_count(), "slots": slots,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "mem_total_mb": _meminfo_mb("MemTotal"),
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "offheap_memory": os.environ["SPARK_OFFHEAP_MEMORY"],
            "loadavg": os.getloadavg(),
            "java": jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
        }
        inputs = wl.inputs()
    finally:
        tracer.close()
        stop_session(spark)

    cpu1 = _cpu_times()
    d = [b - a for a, b in zip(cpu0, cpu1)]
    host["steal_frac"] = d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0

    n = len(op_ms)
    measured_s = sum(op_ms) / 1000.0
    failed = sum(1 for k in failures if k >= 0)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "inputs": inputs,
        "warmup_ops": len(warm_ms), "warmup_ms": warm_ms,
        "ops": n, "op_ms": op_ms, "op_kinds": kinds,
        "trend": trend(op_ms, kinds),
        "session_s": session_s, "data_s": data_s,
        "wall_s": time.perf_counter() - t_start,
        "failures": {str(k): v for k, v in failures.items()},
    }
    print(json.dumps({"info": info}))

    if args.trace:
        log = tracer.attribute(f"{work}/events")
        metrics = {k: (0.0, u) for k, u in SHARED_LAYERS.items()}
        metrics["session.start_s"] = (session_s, "s")
        metrics.update(wl.layers(tracer, op_spans))
        metrics.update(spark_layers(tracer, log, op_spans, slots))
        metrics["trace.op_p50_ms"] = (statistics.median(op_ms), "ms")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(op_ms), "ms"),
            "items_per_s": (n * wl.items_per_op / measured_s, "1/s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
    print(json.dumps({
        "correct": not failures,
        "attempted": n,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
