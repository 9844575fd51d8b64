"""Per-layer metrics of a traced run.

Each figure is per timed operation (mean over the run's operations)
unless its name says otherwise; a layer the workload never enters
reads 0.  ``perfbench/README.md`` lists, for each metric, the
end-to-end metric and workload it should move.
"""

from __future__ import annotations

import collections
import os

import numpy as np

from perfbench.trace import event_log_file, parse_event_log

#: name -> unit, in report order
UNITS = {
    "session.start_s": "s",
    "registry.load_all_s": "s",
    "readers.load_table.calls": "count",
    "readers.load_table_s": "s",
    "build_s": "s",
    "py4j.calls": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "tasks.failed": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "python.run_ms": "ms",
    "python.start_ms": "ms",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "ivfpq_serve.build_s": "s",
    "ivfpq_serve.exec_s": "s",
    "ivfpq_serve.py4j_calls": "count",
    "serve.read_fraction": "ratio",
    "ivfpq_build_index_s": "s",
    "ivfpq_build_index.spark.jobs": "count",
    "ivfpq_build_index.run_parallel_calls": "count",
    "run_parallel.calls": "count",
    "run_parallel.untagged_legs": "count",
    "pca_kmeans_s": "s",
    "plans.build_daily_report_s": "s",
    "plans.curate_full_build_s": "s",
    "sinks.write_training_shards_s": "s",
    "write_s": "s",
    "output.bytes": "bytes",
    "output.files": "count",
    "caching.pins": "count",
    "caching.live_pins_after": "count",
    "trace.op_p50_s": "s",
}

_EVENT = (
    "spark.jobs", "spark.stages", "spark.tasks", "tasks.failed", "exec.run_ms",
    "exec.cpu_ms", "exec.gc_ms", "shuffle.read_bytes", "shuffle.write_bytes",
    "spill.bytes", "python.run_ms", "python.start_ms", "python.bytes_sent",
    "python.bytes_received", "output.bytes",
)

#: wrapped function layer -> metric of its inclusive seconds per op
_SECONDS = {
    "readers.load_table": "readers.load_table_s",
    "pca_kmeans": "pca_kmeans_s",
    "plans.build_daily_report": "plans.build_daily_report_s",
    "plans.curate_full": "plans.curate_full_build_s",
    "sinks.write_training_shards": "sinks.write_training_shards_s",
    "write": "write_s",
}


def per_layer(ops, counts, base, ctx, workdir, session_s, load_all_s, live_after, p50):
    """The traced run's metrics as ``{name: {"value", "unit"}}``."""
    n = len(ops)
    calls = collections.Counter(counts[0])
    calls.subtract(base[0])
    secs = collections.Counter(counts[1])
    secs.subtract(base[1])
    ev = parse_event_log(event_log_file(os.path.join(workdir, "eventlog")))
    op_ev = collections.Counter()
    for i in range(n):
        op_ev.update(ev.get(f"op_{i}", {}))

    serves = [r for o in ops for r in o.parts.get("serves", [])]
    serve_ev = collections.Counter()
    build_ev = collections.Counter()
    for i in range(n):
        build_ev.update(ev.get(f"build_{i}", {}))
    for r in serves:
        serve_ev.update(ev.get(f"serve_{r['j']}", {}))

    def mean(rows, key, sub=None):
        vals = [(r.get(key) or {}).get(sub, 0.0) if sub else r.get(key, 0.0) for r in rows]
        return float(np.mean(vals)) if vals else 0.0

    parts = [o.parts for o in ops]
    v = {name: 0.0 for name in UNITS}
    v["session.start_s"] = session_s
    v["registry.load_all_s"] = load_all_s
    v["readers.load_table.calls"] = calls["readers.load_table"] / n
    for layer, name in _SECONDS.items():
        v[name] = secs[layer] / n
    # construction: the registered function, or the two jobs' plans
    v["build_s"] = mean(parts, "build_s") or (
        v["plans.build_daily_report_s"] + v["plans.curate_full_build_s"]
    )
    v["py4j.calls"] = calls["py4j"] / n
    # Catalyst phases of each forced plan: the query, or the serve request
    planned = parts if any("catalyst" in p for p in parts) else serves
    for phase in ("analysis", "optimization", "planning"):
        v[f"catalyst.{phase}_ms"] = mean(planned, "catalyst", phase)
    for key in _EVENT:
        v[key] = op_ev[key] / n
    # serve figures are per request
    v["ivfpq_serve.build_s"] = mean(serves, "build_s")
    v["ivfpq_serve.exec_s"] = mean(serves, "exec_s")
    v["ivfpq_serve.py4j_calls"] = mean(serves, "py4j_calls")
    index_bytes = mean(parts, "index_bytes")
    if serves and index_bytes:
        v["serve.read_fraction"] = serve_ev["input.bytes"] / len(serves) / index_bytes
    v["output.files"] = mean(parts, "output_files")
    v["ivfpq_build_index_s"] = mean(parts, "index_build_s")
    v["ivfpq_build_index.spark.jobs"] = build_ev["spark.jobs"] / n
    v["ivfpq_build_index.run_parallel_calls"] = mean(parts, "build_run_parallel_calls")
    v["run_parallel.calls"] = calls["run_parallel"] / n
    v["run_parallel.untagged_legs"] = ctx.tracer.untagged_legs
    v["caching.pins"] = calls["caching.pin"] / n
    v["caching.live_pins_after"] = live_after
    v["trace.op_p50_s"] = p50
    return {k: {"value": float(v[k]), "unit": u} for k, u in UNITS.items()}
