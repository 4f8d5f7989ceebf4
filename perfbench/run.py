"""Run one benchmark workload against the engine and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload live_paper --seed 1 --seconds 20 --trace 0

Workloads: ``live_paper`` and ``backfill_wide`` (``workloads.py``) and
``catalog`` (``catalog.py``).

Prints one line per metric (name, value, unit, sample count), the health
and correctness figures, and as its last line one JSON object::

    {"correct": true, "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones and writes the spans to ``.bench_work/traces/``.  Everything the run
writes stays under ``.bench_work/`` in the repository root.  See
``perfbench/README.md`` for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import catalog  # noqa: E402  (needs ROOT on the path)

END_TO_END = {
    "setup_s": "s",
    "time_to_result_ms": "ms",
}

#: per-layer metrics of a traced run, with their units: those of both
#: streaming workloads, and those of ``catalog``.  A run reports the
#: other group as 0.
STREAMING = {
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.read_amplification": "ratio",
    "sources.backlog_ticks_max": "ticks",
    "generator.late_max_ms": "ms",
    "generator.late_p50_ms": "ms",
    "engine.batches": "count",
    "engine.batch_ms": "ms",
    "engine.batch_interval_ms": "ms",
    "engine.planning_ms": "ms",
    "engine.commit_ms": "ms",
    "engine.add_batch_ms": "ms",
    "engine.jobs_per_batch": "count",
    "engine.stages_per_batch": "count",
    "engine.tasks_per_batch": "count",
    "engine.task_ms_per_batch": "ms",
    "engine.jvm_cpu_ms_per_batch": "ms",
    "engine.python_seam_ms_per_batch": "ms",
    "engine.shuffle_bytes_per_batch": "bytes",
    "engine.alerts_per_batch": "count",
    "engine.alert_ratio": "ratio",
    "engine.ticks_per_s": "ticks/s",
    "streaming.stateful.updates_ms": "ms",
    "streaming.stateful.commit_ms": "ms",
    "streaming.stateful.rows_updated": "count",
    "streaming.stateful.state_rows": "count",
    "streaming.stateful.state_bytes": "bytes",
    "reference.ticks_per_s": "ticks/s",
    "traced.tick_to_alert_p99_ms": "ms",
}
CATALOG = {
    **{
        f"{layer}.{k}": u
        for layer in catalog.ENTRIES.values()
        for k, u in (("wall_s", "s"), ("jobs", "count"), ("task_ms", "ms"),
                     ("jvm_cpu_ms", "ms"), ("shuffle_bytes", "bytes"))
    },
    "operators.graph.stages": "count",
    "operators.graph.idle_ms": "ms",
    "plans.spill_bytes": "bytes",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MiB",
    **STREAMING,
    **CATALOG,
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``, run
    in UTC, and let Spark's Python workers import the engine package
    from this checkout wherever the command was started."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["TZ"] = "UTC"
    time.tzset()
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
    # the launcher JVM and the JVM it starts: no hsperfdata, temp files under work
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData",
        "pyspark-shell",
    ])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import financial_data_stream_processing_engine_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from perfbench import workloads

    runners = {**{w: workloads.run for w in workloads.WORKLOADS}, catalog.NAME: catalog.run}
    if args.workload not in runners:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(runners)}", file=sys.stderr)
        return 2
    _isolate(ROOT / ".bench_work")
    try:
        res = runners[args.workload](args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    except Exception:
        traceback.print_exc()
        return 1

    h = res["health"]
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    for name, value in res["e2e"].items():
        n = h["samples"] if name == "time_to_result_ms" else 1
        print(f"  {name:<24} {value:14.4f} {END_TO_END[name]:<8} n={n}")
    for name, value in h.items():
        print(f"  health.{name:<31} {value}")
    for name, value in res["per_layer"].items():
        print(f"  {name:<38} {value:16.4f} {PER_LAYER[name]}")
    print(f"  failed_ratio={h['failed_ratio']:.6f} ({res['failed']} of {res['attempted']})")

    names, values = (PER_LAYER, res["per_layer"]) if args.trace else (END_TO_END, res["e2e"])
    if args.trace:  # the other workload group's layers do not run here
        idle = STREAMING if args.workload == catalog.NAME else CATALOG
        values = {**dict.fromkeys(idle, 0.0), **values}
    complete = set(values) == set(names) and all(map(math.isfinite, values.values()))
    # a metric the run could not measure reads 0 and the run is not correct
    metrics = {
        k: {"value": v if math.isfinite(v := values.get(k, 0.0)) else 0.0, "unit": u}
        for k, u in names.items()
    }
    print(json.dumps({
        "correct": res["failed"] == 0 and h.get("drained", True) and complete,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
