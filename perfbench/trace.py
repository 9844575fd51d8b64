"""Per-layer tracing for the traced benchmark run.

Everything here lives outside the program: it wraps the package's
public functions by replacing module attributes (every module that
imported a function by name gets the wrapper too), counts py4j
round-trips at the client connection, tags each timed operation with a
Spark job tag, and reads Spark's own event log for the work the
executors did under each tag.  Untraced runs never import this module.
"""

from __future__ import annotations

import collections
import json
import os
import re
import sys
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

#: (module, function, layer name) wrapped in a traced run; the layer
#: name is the metric prefix
WRAPPED = (
    ("ssafynews_data_spark.sources.readers", "load_table", "readers.load_table"),
    ("ssafynews_data_spark.parallel", "run_parallel", "run_parallel"),
    ("ssafynews_data_spark.caching", "pin", "caching.pin"),
    ("ssafynews_data_spark.operators.vectors", "pca_kmeans", "pca_kmeans"),
    ("ssafynews_data_spark.plans.daily_report", "build_daily_report", "plans.build_daily_report"),
    ("ssafynews_data_spark.plans.pipeline", "curate_full", "plans.curate_full"),
    ("ssafynews_data_spark.sources.sinks", "write_training_shards", "sinks.write_training_shards"),
)

TAG_PREFIX = "perfbench"
_TAG_RE = re.compile(TAG_PREFIX + r"_([a-z]+_\d+)$")


class Counters:
    """Thread-safe call counts and inclusive seconds per layer."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.calls: collections.Counter = collections.Counter()
        self.seconds: collections.Counter = collections.Counter()

    def add(self, name: str, seconds: float = 0.0) -> None:
        with self._lock:
            self.calls[name] += 1
            self.seconds[name] += seconds

    def snapshot(self) -> tuple[dict, dict]:
        with self._lock:
            return dict(self.calls), dict(self.seconds)


class Tracer:
    """Installs the wrappers and collects what they record."""

    def __init__(self) -> None:
        self.counters = Counters()
        self.untagged_legs = 0
        self._current_tag: str | None = None
        self._sc = None

    # -- installation ---------------------------------------------------
    def install(self) -> None:
        """Wrap every function in ``WRAPPED`` wherever it is bound, and
        count py4j commands.  Call after ``registry.load_all()``."""
        import importlib

        for mod_name, fn_name, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            wrapper = self._wrap(orig, layer)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "") or ""
                if not (name.startswith("ssafynews_data_spark") or name.endswith("_job")):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapper)
        self._count_py4j()
        self._time_writes()

    def _wrap(self, fn: Callable, layer: str) -> Callable:
        counters = self.counters
        if layer == "run_parallel":
            return self._wrap_run_parallel(fn)

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                counters.add(layer, time.perf_counter() - t0)

        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_run_parallel(self, fn: Callable) -> Callable:
        """Count calls, and check inside each leg's thread that the
        current operation's job tag reached it."""
        tracer = self

        def leg(thunk):
            def run():
                tag = tracer._current_tag
                if tag is not None and tracer._sc is not None:
                    tags = tracer._sc.getLocalProperty("spark.job.tags") or ""
                    if tag not in tags.split(","):
                        with tracer.counters._lock:
                            tracer.untagged_legs += 1
                return thunk()

            return run

        def wrapper(*thunks):
            t0 = time.perf_counter()
            try:
                return fn(*[leg(t) for t in thunks])
            finally:
                tracer.counters.add("run_parallel", time.perf_counter() - t0)

        wrapper.__wrapped__ = fn
        return wrapper

    def _count_py4j(self) -> None:
        counters = self.counters
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(self, command, *a, _orig=orig, **kw):
                counters.add("py4j")
                return _orig(self, command, *a, **kw)

            cls.send_command = send_command

    def _time_writes(self) -> None:
        """Time every DataFrameWriter save/parquet call as the write layer."""
        from pyspark.sql.readwriter import DataFrameWriter

        counters = self.counters
        for meth in ("save", "parquet"):
            orig = getattr(DataFrameWriter, meth)

            def timed(self, *a, _orig=orig, **kw):
                t0 = time.perf_counter()
                try:
                    return _orig(self, *a, **kw)
                finally:
                    counters.add("write", time.perf_counter() - t0)

            setattr(DataFrameWriter, meth, timed)

    # -- tagging --------------------------------------------------------
    @contextmanager
    def tagged(self, spark, kind: str, i: int) -> Iterator[str]:
        """Run the body under job tag ``perfbench_<kind>_<i>``."""
        sc = spark.sparkContext
        self._sc = sc
        tag = f"{TAG_PREFIX}_{kind}_{i}"
        outer = self._current_tag
        sc.addJobTag(tag)
        self._current_tag = tag
        try:
            yield tag
        finally:
            self._current_tag = outer
            sc.removeJobTag(tag)


def plan_phases(df) -> dict[str, float]:
    """Force the frame's physical plan and return Catalyst's phase
    times in ms (analysis, optimization, planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# -- event log ----------------------------------------------------------

#: SQL metric names (task accumulables) read from the event log
_PY_ACCUMS = {
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.start_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def _ops_of(tags: str) -> list[str]:
    return [m.group(1) for t in tags.split(",") if (m := _TAG_RE.search(t.strip()))]


def parse_event_log(path: str) -> dict[str, collections.Counter]:
    """Sum task metrics per operation tag from an uncompressed event log.

    Tags are matched by suffix: session-scoped tags reach the log as
    ``spark-session-<id>-thread-<id>-<tag>``.  A job under nested tags
    counts for each of them.  Returns ``{op: Counter}`` with jobs,
    stages, tasks, failed tasks, executor run/CPU/GC time, shuffle,
    spill, input/output bytes and the Python-worker metrics."""
    stage_ops: dict[int, list[str]] = {}
    per_op: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)
    stages_seen: dict[str, set] = collections.defaultdict(set)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                ops = _ops_of((ev.get("Properties") or {}).get("spark.job.tags", ""))
                for op in ops:
                    per_op[op]["spark.jobs"] += 1
                for s in ev.get("Stage IDs", []):
                    stage_ops[s] = ops
            elif kind == "SparkListenerTaskEnd":
                for op in stage_ops.get(ev.get("Stage ID"), ()):
                    stages_seen[op].add((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                    _add_task(per_op[op], ev)
    for op, seen in stages_seen.items():
        per_op[op]["spark.stages"] = len(seen)
    return per_op


def _add_task(c: collections.Counter, ev: dict) -> None:
    c["spark.tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        c["tasks.failed"] += 1
    m = ev.get("Task Metrics") or {}
    c["exec.run_ms"] += m.get("Executor Run Time", 0)
    c["exec.cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    c["exec.gc_ms"] += m.get("JVM GC Time", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["shuffle.write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    c["spill.bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    c["input.bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    c["output.bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_ACCUMS.get(acc.get("Name"))
        if key is not None:
            c[key] += int(acc.get("Update") or 0)


def event_log_file(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
