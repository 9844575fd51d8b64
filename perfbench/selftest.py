"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

Runs the benchmark on toy inputs (sf0.001 analytics fixture; 500
articles and sf0.01 documents for the jobs) and asserts that:

- every end-to-end metric in ``BENCHMARK.json`` and every workload
  metric named in ``perfbench/README.md`` is printed with its unit, and
  a clean run is correct;
- a traced run prints every per-layer metric with its unit, and the
  event-log parser finds jobs, tasks and executor time for the tagged
  operations, with every ``run_parallel`` leg carrying its tag;
- an injected wrong output is counted in ``failed`` and ``fail_ratio``;
- without the program beside it the runner exits non-zero and prints
  no result;
- the event-log parser matches session-scoped tags by suffix.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: working space inside the checkout (ignored by git, like the runs)
WORKDIR = os.path.join(ROOT, ".perfbench_runs", f"selftest-{os.getpid()}")
sys.path.insert(0, ROOT)

DETAIL = {
    "analytics_mix": ("setup_s", "peak_rss_mb", "fail_ratio", "queries_per_s", "query_p50_s"),
    "batch_jobs": (
        "setup_s", "peak_rss_mb", "fail_ratio", "daily_report_s", "curate_s",
        "job_rows_per_s", "index_build_s", "serve_p50_s", "serve_tail_s",
        "serve_qps", "recall_at_5", "retention_at_5",
    ),
}


def _expect(ok: bool, detail) -> None:
    """Fail the self-test (``assert`` would vanish under ``python -O``)."""
    if not ok:
        raise AssertionError(detail)


def _bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
    return proc.returncode, lines


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    rc, lines = _bench(
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--toy", *extra,
    )
    _expect(rc == 0, f"{workload} trace={trace}: exit {rc}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def _has_units(metrics: dict, names) -> None:
    for name in names:
        m = metrics.get(name)
        _expect(m is not None and "unit" in m and "value" in m, f"{name} missing: {m}")


def check_event_log_parser() -> None:
    from perfbench.trace import parse_event_log

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
         "Properties": {"spark.job.tags": "spark-session-ab-thread-cd-perfbench_op_2"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 5, "Executor CPU Time": 2_000_000}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [4],
         "Properties": {"spark.job.tags": "other"}},
    ]
    path = os.path.join(WORKDIR, "events.log")
    with open(path, "w") as fh:
        fh.write("\n".join(json.dumps(e) for e in events))
    got = parse_event_log(path)
    _expect(set(got) == {"op_2"}, got)
    c = got["op_2"]
    _expect((c["spark.jobs"], c["spark.stages"], c["spark.tasks"]) == (1, 1, 1), c)
    _expect(c["exec.run_ms"] == 5 and c["exec.cpu_ms"] == 2.0, c)


def check_without_program() -> None:
    d = os.path.join(WORKDIR, "bare")
    os.makedirs(d)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    shutil.copytree(HERE, os.path.join(d, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = _bench("--workload", "analytics_mix", "--seed", "1",
                       "--seconds", "1", "--trace", "0", cwd=d)
    _expect(rc != 0 and not lines, (rc, lines))


def main() -> int:
    os.makedirs(WORKDIR)
    try:
        return _checks()
    finally:
        shutil.rmtree(WORKDIR, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORKDIR))
        except OSError:
            pass  # a benchmark run still uses it


def _checks() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layers = [m["name"] for m in spec["per_layer"]]

    check_event_log_parser()
    check_without_program()

    detail, result = _run("analytics_mix", 0)
    _expect(result["correct"] and result["failed"] == 0, result)
    _has_units(result["metrics"], e2e)
    _expect(set(result["metrics"]) == set(e2e), result["metrics"].keys())
    _has_units(detail["metrics"], DETAIL["analytics_mix"])

    detail, result = _run("analytics_mix", 1, "--inject-wrong")
    _expect(not result["correct"] and result["failed"] >= 1, result)
    _expect(detail["metrics"]["fail_ratio"]["value"] > 0, detail["metrics"])
    _expect(set(result["metrics"]) == set(layers), result["metrics"].keys())
    _has_units(result["metrics"], layers)
    lm = result["metrics"]
    for name in ("spark.jobs", "spark.tasks", "exec.run_ms", "py4j.calls"):
        _expect(lm[name]["value"] > 0, (name, lm[name]))

    detail, result = _run("batch_jobs", 1)
    _expect(result["correct"] and result["failed"] == 0, (result, detail["failures"]))
    _has_units(detail["metrics"], DETAIL["batch_jobs"])
    lm = result["metrics"]
    _has_units(lm, layers)
    for name in ("ivfpq_build_index.spark.jobs", "ivfpq_build_index.run_parallel_calls",
                 "python.bytes_sent", "output.files", "serve.read_fraction"):
        _expect(lm[name]["value"] > 0, (name, lm[name]))
    _expect(lm["run_parallel.untagged_legs"]["value"] == 0, lm["run_parallel.untagged_legs"])
    print("perfbench self-test: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
