"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Runs the workload closed-loop with one client on ``local[4]``, checks
every operation's output, and prints one JSON object as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
spans are recorded around the calls into each engine layer and the
metrics are the per-layer ones (spans go to ``perfbench/.work``).
Workloads, metrics and the layer map: ``perfbench/WORKLOADS.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import numpy as np  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "3g"  # -Xms = -Xmx, so the heap's resident size does not depend on when it grew
SETUPS = 3  # session set-ups per run; setup_s is their median
CACHE_KEEP = 4  # fixtures of this many seeds stay cached per kind

WORKLOADS = ["etl_daily", "query_mix"]  # see workload_class
# Times are CPU seconds of the Python driver plus the JVM: on a shared host
# the wall clock moves with the neighbours' load (see WORKLOADS.md).
END_TO_END = ["setup_s", "first_cpu_s", "warm_cpu_s", "geomean_cpu_ms", "p95_cpu_ms", "peak_rss_mb"]
UNITS = {"s": "s", "ms": "ms", "mb": "MB", "bytes": "bytes", "amp": "ratio"}


def unit_of(name: str) -> str:
    """A metric's unit is named by its last ``.``/``_`` token."""
    return UNITS.get(re.split(r"[._]", name)[-1], "count")


def prune_cache(cache_dir: str) -> None:
    kinds: dict[str, list[str]] = {}
    for e in os.listdir(cache_dir):
        kinds.setdefault(e.split("-s", 1)[0], []).append(os.path.join(cache_dir, e))
    for paths in kinds.values():
        paths.sort(key=os.path.getmtime, reverse=True)
        for p in paths[CACHE_KEEP:]:
            shutil.rmtree(p, ignore_errors=True)


def peak_rss_mb() -> float:
    """Peak RSS of this Python process plus the Spark driver JVM."""
    from pyspark import SparkContext

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -Xms{DRIVER_MEM} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def workload_class(name: str):
    import etl
    import queries

    return {"etl_daily": etl.EtlDaily, "query_mix": queries.QueryMix}[name]


def build_fixtures(workload: str, cache: str, seed: str) -> None:
    """Write a seed's parquet fixtures into the cache. Runs in a child
    process (see ``measure``), so its memory is not part of the driver's
    peak RSS."""
    sys.path[:0] = [ROOT, HERE]
    workload_class(workload).build_fixtures(cache, int(seed))


def stop_spark() -> None:
    """Stop the session, if one is up, and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def adopt_orphans() -> None:
    """Become the reaper of this process's orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that a process the JVM started, such
    as a Python worker, is reparented here when the JVM exits."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until every child process has ended and been reaped; a child
    still running after ``grace_s`` gets SIGTERM, after twice that SIGKILL."""
    t0 = time.monotonic()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        waited = time.monotonic() - t0
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for kid in child_pids():
                try:
                    os.kill(kid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def child_pids() -> list[int]:
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                kids.append(int(entry))
    return kids


GENERAL_LAYER = [
    "session.start_s", "session.start_cpu_s", "session.read_table_ms", "fixture.build_s",
    "wall.setup_s", "wall.first_s", "wall.warm_s", "wall.geomean_ms", "wall.p95_ms",
    "trace.first_cpu_s", "trace.warm_cpu_s", "trace.window_s", "trace.ops_s",
]


def per_layer_names() -> list[str]:
    import etl
    import queries
    from spans import EXEC_LAYER

    return GENERAL_LAYER + etl.LAYER + queries.LAYER + EXEC_LAYER + queries.FAMILY_LAYER


# ---------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # the engine reads these at import time
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path[:0] = [ROOT, HERE]
    try:
        from usajobs_etl_service_spark.session import get_spark

        cls = workload_class(args.workload)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    # everything a run writes stays under perfbench/
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    cache = os.path.join(HERE, ".cache")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(cache, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata from spark-submit's launcher
    tempfile.tempdir = None
    adopt_orphans()
    try:
        return measure(args, work, cache, get_spark, cls)
    finally:
        stop_spark()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work, cache, get_spark, cls) -> int:
    from spans import Stopwatch, Tracer, cpu_seconds, duration

    trace = bool(args.trace)
    conf = spark_conf(work, trace)
    master = f"local[{CORES}]"

    t_fix, cpu_fix = time.perf_counter(), time.process_time()
    subprocess.run(
        [sys.executable, "-c", "import sys; sys.path.insert(0, sys.argv[1]); import run; run.build_fixtures(*sys.argv[2:])",
         HERE, args.workload, cache, str(args.seed)],
        check=True,
    )
    wl = cls(work, cache, args.seed)
    fixture_s, fixture_cpu = time.perf_counter() - t_fix, time.process_time() - cpu_fix
    prune_cache(cache)

    # set-up i ends when the workload's tables are read and a first job ran;
    # the first one counts from process start (less the fixture build)
    setups, setups_cpu, read_ms = [], [], 0.0
    spark = None
    for _ in range(SETUPS):
        watch = Stopwatch() if spark is not None else None
        if spark is not None:
            spark.stop()
        spark = get_spark("perfbench", master=master, extra_conf=conf)
        wl.attach(spark)
        t_read = time.perf_counter()
        wl.read_tables()
        read_ms = (time.perf_counter() - t_read) * 1000
        spark.range(1).count()
        if watch is None:
            setups.append(time.perf_counter() - T_PROCESS - fixture_s)
            setups_cpu.append(cpu_seconds() - fixture_cpu)
        else:
            wall, cpu = watch.read()
            setups.append(wall)
            setups_cpu.append(cpu)

    tracer = None
    if trace:
        tracer = Tracer(spark)
        wl.install_spans(tracer)
    steal0, total0 = cpu_ticks()
    try:
        res = wl.run(args.seconds, tracer)
        steal1, total1 = cpu_ticks()
        rss = peak_rss_mb()
        if tracer is not None:
            tracer.restore()
            tracer.attach_spark_metrics()
            tracer.dump(os.path.join(HERE, ".work", f"spans-{args.workload}-s{args.seed}.json"))
    finally:
        stop_spark()

    for p in res["problems"]:
        print(f"perfbench: WRONG {p}", file=sys.stderr)
    cpu_ms = [s * 1000 for s in res["cpu_samples"]]
    e2e = {
        "setup_s": statistics.median(setups_cpu),
        "first_cpu_s": res["first_cpu_s"],
        "warm_cpu_s": res["warm_cpu_s"],
        "geomean_cpu_ms": statistics.geometric_mean(cpu_ms),
        "p95_cpu_ms": float(np.percentile(cpu_ms, 95)),
        "peak_rss_mb": rss,
    }
    wall_ms = [s * 1000 for s in res["samples"]]
    wall = {
        "wall.setup_s": statistics.median(setups),
        "wall.first_s": res["first_s"],
        "wall.warm_s": res["warm_s"],
        "wall.geomean_ms": statistics.geometric_mean(wall_ms),
        "wall.p95_ms": float(np.percentile(wall_ms, 95)),
    }
    # wall-clock figures and the CPU share the hypervisor stole, for reading the run
    print(json.dumps({"workload": args.workload, "seed": args.seed, "setups_s": setups, "setups_cpu_s": setups_cpu,
                      "fixture_s": fixture_s, "window_s": res["window_s"], "warm_ms": wall_ms, "warm_cpu_ms": cpu_ms,
                      "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0), **wall, **e2e}),
          file=sys.stderr)
    if trace:
        # a layer this workload does not exercise reads 0
        metrics = dict.fromkeys(per_layer_names(), 0.0)
        metrics.update({
            "session.start_s": setups[0], "session.start_cpu_s": setups_cpu[0],
            "session.read_table_ms": read_ms, "fixture.build_s": fixture_s, **wall,
            "trace.first_cpu_s": e2e["first_cpu_s"], "trace.warm_cpu_s": e2e["warm_cpu_s"],
            "trace.window_s": res["window_s"],
            "trace.ops_s": sum(duration(s) for s in tracer.spans if s["parent"] is None),
        })
        metrics.update(wl.layers(tracer, res))
    else:
        metrics = e2e
    expected = END_TO_END if not trace else per_layer_names()
    if list(metrics) != expected:
        raise RuntimeError(f"metric names {sorted(set(metrics) ^ set(expected))} out of sync with BENCHMARK.json")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
