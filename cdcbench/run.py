#!/usr/bin/env python3
"""CDC engine benchmark: one workload per invocation.

    python3 cdcbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs come from ``--seed``; the workload
measures for ``--seconds``, checks its outputs against an oracle, prints
every metric by name with its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` runs the same
workload with outside-in spans and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# well below the 15 GB host (the session default is 48g); the heap is fixed
# and pre-touched so peak RSS and timings do not track heap growth
DRIVER_MEMORY = "1g"
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _source_digest() -> str:
    """Identifies the engine code under test when no git metadata exists."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "debezium_connector_cassandra_spark", "**", "*.py"), recursive=True))
    for path in files + [os.path.join(ROOT, "__spark_entry__.py")]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or "none (not a git checkout)"
    except (OSError, subprocess.TimeoutExpired):
        return "none (git unavailable)"


def _hygiene(work: str, cpus: int) -> dict:
    """Process environment for a reproducible run; returns the settings."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,  # fresh per run
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit starts first: no /tmp perf data
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import the engine's UDF modules by name
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(settings)
    tempfile.tempdir = tmp
    return settings


def _descendants(pid: int) -> list[int]:
    kids = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                kids += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return kids + [d for k in kids for d in _descendants(k)]


def _tree() -> list[int]:
    return [os.getpid()] + _descendants(os.getpid())


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and every
    live descendant: the Spark JVM and its Python workers."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def cpu_s() -> float:
    """CPU seconds used so far by this process tree, reaped children
    included. Unlike wall time it does not count time a hypervisor gives
    to other guests (steal)."""
    ticks = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except OSError:
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def _quantile(xs: list[float], q: float) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(ctx, rss_mb: float, measure_cpu_s: float) -> dict[str, float]:
    lat = ctx.latency_ms
    return {
        "setup_s": statistics.median(ctx.setup_s),
        "peak_rss_mb": rss_mb,
        "throughput_per_s": sum(o.events for o in ctx.ops) / ctx.measured_s,
        "latency_ms_p50": _quantile(lat, 0.5),
        "latency_ms_p90": _quantile(lat, 0.9),  # per-layer only: too few samples
        "cpu_ms_per_op": measure_cpu_s * 1000 / len(ctx.ops),
    }


def _start_spark(app: str, master: str, work: str, event_log: str | None):
    from debezium_connector_cassandra_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"{JVM_OPTIONS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name=app, master=master, extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


@contextmanager
def _phase(phases: dict[str, float], name: str):
    t0 = time.perf_counter()
    yield
    phases[name] = time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for the smoke test")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # the engine must be importable before any work starts
    import debezium_connector_cassandra_spark  # noqa: F401

    from cdcbench import gate, workloads
    from cdcbench.layers import per_layer, single_core_baseline

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, "cdcbench", ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = _cpus()
    settings = _hygiene(work, cpus)
    host = {
        "commit": _commit(),
        "source_digest": _source_digest(),
        "nproc": cpus,
        "loadavg": os.getloadavg(),
        "master": f"local[{cpus}]",
        "jvm_options": JVM_OPTIONS,
        "trace": args.trace,
        **settings,
    }
    print("# host " + json.dumps(host), flush=True)

    event_log = os.path.join(work, "eventlog") if args.trace else None
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()
    spark = _start_spark(f"cdcbench-{args.workload}", f"local[{cpus}]", work, event_log)
    try:
        tracer = None
        workload = workloads.WORKLOADS[args.workload](args.tiny)
        if args.trace:
            import __spark_entry__  # noqa: F401  (its operator imports get wrapped too)

            from cdcbench.trace import Tracer

            tracer = Tracer(spark)
            tracer.install()
        ctx = workloads.Context(
            spark=spark,
            work=work,
            cache=gate.DigestCache(os.path.join(ROOT, "cdcbench", ".cache"), ROOT),
            seed=args.seed,
            tracer=tracer,
        )
        phases["spark_start"] = time.perf_counter() - t_phase
        with _phase(phases, "setup"):
            workload.setup(ctx)
        cpu0 = cpu_s()
        with _phase(phases, "measure"):
            workload.measure(ctx, args.seconds)
        measure_cpu_s = cpu_s() - cpu0
        rss = peak_rss_mb()
        with _phase(phases, "check"):
            workload.check(ctx)
        e2e = end_to_end(ctx, rss, measure_cpu_s)
        if args.trace:
            with _phase(phases, "per_layer"):
                per_layer(ctx, workload, e2e, event_log)
            tracer.uninstall()
            if hasattr(workload, "preload_drain"):
                with _phase(phases, "baseline"):
                    spark = single_core_baseline(ctx, workload, cpus, _start_spark)
            declared = spec["per_layer"]
            values = ctx.layer
        else:
            declared = spec["end_to_end"]
            values = e2e
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in declared}
    # a per-layer metric the workload does not exercise reads 0; every
    # end-to-end metric is always computed
    metrics = {
        n: {"value": float(values.get(n, 0.0) if args.trace else values[n]), "unit": u}
        for n, u in units.items()
    }
    print("# phase seconds " + json.dumps({k: round(v, 2) for k, v in phases.items()}))
    for f in ctx.failures:
        print(f"# gate failure: {f}", flush=True)
    if args.trace:
        print("# operator spans time plan construction only; execution lands in "
              "the span that runs the action (mostly lake.overwrite_buckets)")
    for n, m in metrics.items():
        print(f"{n:48s} {m['value']:>16.4f} {m['unit']}")
    attempted = len(ctx.ops)
    failed = sum(not o.ok for o in ctx.ops)
    result = {
        "correct": not ctx.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
