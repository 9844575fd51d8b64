"""Benchmark runner for the news analytics engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  It generates the workload's inputs
from ``--seed`` into a per-run directory (``.perfbench_runs/``, deleted
on exit), starts one engine session on ``local[N]`` (N at most the
CPUs this process may use, and at most 4), sets the workload up, then
runs its operation in a closed loop with one client for ``--seconds``
(whole rounds of operations, and at least the workload's minimum).
Every operation's output is checked.

Stdout ends with two JSON lines: the detail record (the workload's own
metrics by name and unit, load averages, failures), then the result
line ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run wraps the package's public functions, counts py4j commands and
reads Spark's event log, and the metrics are the per-layer ones.

Exit code 2 without a result line when the checkout does not hold the
program.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = (
    "ssafynews_data_spark/__init__.py",
    "tools/reseed_fixture.py",
    "tools/check_oracles.py",
    "jobs/daily_report_job.py",
    "jobs/curate_job.py",
)
MAX_CPUS = 4
DRIVER_MEM_MB = 2048


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _proc_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """High-water RSS of this driver process plus the JVM it launched."""
    me = os.getpid()
    pids = [me] + [p for p in _proc_tree(me) if _comm(p) == "java"]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds used by this process and every live descendant
    (JVM, Python workers), including their reaped children."""
    tck = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tck


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _configure_env(workdir: str) -> int:
    cpus = min(len(os.sched_getaffinity(0)), MAX_CPUS)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(DRIVER_MEM_MB, phys_mb // 4)}m"
    # Python workers import the package (the daily report's UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    return cpus


def _session_conf(workdir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(workdir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(workdir, "eventlog"),
            # Spark 4 compresses with zstd by default; read it as plain JSON
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def run(args, workdir: str) -> tuple[dict, dict]:
    """One benchmark run; returns (detail record, result line)."""
    t_start = time.perf_counter() - _process_age_s()
    sys.path.insert(0, ROOT)
    cpus = _configure_env(workdir)
    load_before = os.getloadavg()

    from perfbench import workloads
    from ssafynews_data_spark import get_session, registry

    t0 = time.perf_counter()
    spark = get_session(
        app_name=f"perfbench-{args.workload}",
        extra_conf=_session_conf(workdir, args.trace),
    )
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        registry.load_all()
        load_all_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer()
            tracer.install()
        wl = workloads.WORKLOADS[args.workload]()
        ctx = workloads.Ctx(
            spark, ROOT, workdir, args.seed, args.toy, tracer, args.inject_wrong
        )
        wl.setup(ctx)

        t_loop = time.perf_counter()
        setup_s = t_loop - t_start
        steal0 = _steal_s()
        cpu0 = tree_cpu_s()
        base = tracer.counters.snapshot() if tracer else None
        ops: list = []
        while (
            len(ops) < wl.min_ops
            or len(ops) % wl.round_ops
            or time.perf_counter() - t_loop < args.seconds
        ):
            i = len(ops)
            t0 = time.perf_counter()
            try:
                ops.append(wl.op(ctx, i))
            except Exception as e:  # an op that raises is a failed op
                traceback.print_exc(file=sys.stderr)
                ctx.check(False, f"op {i}: {type(e).__name__}")
                ops.append(workloads.Op(time.perf_counter() - t0, "error"))
        cpu_s = tree_cpu_s() - cpu0
        steal = _steal_s() - steal0
        rss = peak_rss_mb()
        load_after = os.getloadavg()
        p50 = wl.summarize(ctx, ops)
        counts = tracer.counters.snapshot() if tracer else None
        if tracer:
            from ssafynews_data_spark.caching import live_pins

            live_after = live_pins()
    finally:
        _stop(spark)

    attempted, failed = ctx.checks, len(ctx.failures)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (p50, "s"),
        "ops_per_s": (len(ops) / sum(o.seconds for o in ops), "1/s"),
        "peak_rss_mb": (rss, "MB"),
        "cpu_s_per_op": (cpu_s / len(ops), "s"),
    }
    detail_units = {
        "query_p50_s": "s", "queries_per_s": "1/s", "serve_p50_s": "s",
        "serve_tail_s": "s", "serve_qps": "1/s", "index_build_s": "s",
        "recall_at_5": "ratio", "retention_at_5": "ratio",
        "daily_report_s": "s", "curate_s": "s",
        "job_rows_per_s": "1/s",
    }
    named = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    named["fail_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    for k, u in detail_units.items():
        if k in ctx.detail:
            named[k] = {"value": ctx.detail[k], "unit": u}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": int(args.trace),
        "local_cpus": cpus,
        "ops": len(ops),
        "metrics": named,
        "serve_tail_pct": ctx.detail.get("serve_tail_pct"),
        "passes_s": ctx.detail.get("passes"),
        "query_s": ctx.detail.get("query_s"),
        "session_s": session_s,
        "steal_s": steal,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "failures": ctx.failures[:20],
    }
    if args.trace:
        from perfbench.layers import per_layer

        metrics = per_layer(
            ops, counts, base, ctx, workdir, session_s, load_all_s, live_after, p50
        )
        detail["layers"] = metrics
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {
        "correct": not ctx.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("analytics_mix", "batch_jobs"))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=6.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: toy-size inputs, and one deliberately wrong expectation
    p.add_argument("--toy", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--inject-wrong", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    missing = [r for r in REQUIRED if not os.path.isfile(os.path.join(ROOT, r))]
    if missing:
        print(f"perfbench: no program to measure in {ROOT}; missing {missing}",
              file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runs = os.path.join(ROOT, ".perfbench_runs")
    workdir = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        detail, result = run(args, workdir)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(runs)  # only when no concurrent run still uses it
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
