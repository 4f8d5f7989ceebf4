"""The ``catalog`` workload: warm passes over batch catalog entries.

Five entries, one per engine module, run through the public driver
surface (``__spark_entry__.queries()``) on the benchmark's own fixed
tables (``tables.py``), each written to Spark's ``noop`` sink.
``graph_louvain_refine`` is the iterative one: many small rounds, where
driver-side job scheduling dominates.  No live-engine code runs here.

The warm-up pass collects every entry's rows; after the timed passes
they are compared with the entry's ``oracle_sql()`` run in DuckDB over
the same parquet files, by the repository's local oracle gate
(``tools/verify_local.compare``: row count, column names and types, and
the values as an order-insensitive multiset, floats compared exactly).
"""

from __future__ import annotations

import math
import shutil
import time
from pathlib import Path

from perfbench.probes import RssSampler, Tracer, group_counters, idle_s, stop_session
from perfbench.tables import write_tables
from perfbench.ticks import median

NAME = "catalog"
MASTER = "local[3]"  # as the streaming workloads: a core left to the Spark driver

#: entry → the layer its per-layer metrics are reported under
ENTRIES = {
    "ma_alerts": "plans.ma_alerts",  # operators.core
    "fin_macd": "plans.fin_macd",  # operators.finance
    "join_asof_last_purchase": "plans.join_asof_last_purchase",  # operators.asof
    "tpch_q1_pricing_summary": "plans.tpch_q1_pricing_summary",  # plans.relational_queries
    "graph_louvain_refine": "operators.graph",  # with operators.similarity's cell pairs
}
TABLES = ("events", "lineitem", "embeddings")
#: ``--seconds`` sets the number of timed passes (one per this many
#: seconds, at least one), so the sample count does not depend on the
#: host's speed.  A warm pass takes 10-17 s on a 4-core host.
NOMINAL_PASS_S = 12.0


def run(workload: str, seed: int, seconds: float, trace: bool, root_dir: Path) -> dict:
    """One run: set-up (session start and a warm-up pass that collects
    every entry), the timed passes, then the oracle check.  ``seed`` is
    unused: the tables are fixed."""
    import duckdb
    from financial_data_stream_processing_engine_spark.session import get_spark
    from tools.verify_local import compare

    import __spark_entry__

    work = root_dir / ".bench_work" / f"catalog-{time.time_ns()}"
    tracer = Tracer(trace)
    root = tracer.add("run", time.time(), math.nan, workload=workload, seed=seed)
    rss = RssSampler()
    if trace:
        rss.start()
    queries = __spark_entry__.queries()
    oracles = __spark_entry__.oracle_sql()
    n_passes = max(1, int(seconds // NOMINAL_PASS_S))
    pass_s: list[float] = []
    walls: dict[str, list[tuple[float, float]]] = {e: [] for e in ENTRIES}
    errors: list[tuple[str, str]] = []  # (entry, why): one per failed call or check
    collected: dict[str, tuple] = {}
    try:
        with tracer.span("plan_inputs", root):
            data = str(write_tables(work / "tables"))
        t0 = time.time()
        with tracer.span("get_spark", root):
            spark = get_spark("perfbench", master=MASTER)
        session_start_s = time.time() - t0
        sc = spark.sparkContext
        try:
            with tracer.span("warmup_pass", root) as warm:
                for entry in ENTRIES:
                    with tracer.span(entry, warm):
                        try:
                            df = queries[entry](spark, data)
                            types = [f.dataType.simpleString() for f in df.schema.fields]
                            collected[entry] = ([tuple(r) for r in df.collect()], df.columns, types)
                        except Exception as exc:  # counted as failed, reported below
                            errors.append((entry, f"{type(exc).__name__}: {exc}"))
            setup_s = time.time() - t0
            with tracer.span("measure", root) as measure:
                for p in range(n_passes):
                    p0 = time.time()
                    with tracer.span("pass", measure, index=p) as pass_span:
                        for entry in ENTRIES:
                            sc.setJobGroup(f"perfbench-{entry}-{p}", entry)
                            e0 = time.time()
                            with tracer.span(entry, pass_span):
                                try:
                                    queries[entry](spark, data).write.format("noop").mode(
                                        "overwrite").save()
                                except Exception as exc:
                                    errors.append((entry, f"{type(exc).__name__}: {exc}"))
                            walls[entry].append((e0, time.time()))
                    pass_s.append(time.time() - p0)
            counters = {
                e: [group_counters(spark, f"perfbench-{e}-{p}") for p in range(n_passes)]
                for e in ENTRIES
            } if trace else {}
        finally:
            stop_session(spark)

        with tracer.span("oracle_check", root):
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
            for entry, (rows, cols, types) in collected.items():
                rel = con.sql(oracles[entry])
                problems = compare(entry, rows, cols, rel.fetchall(), list(rel.columns),
                                   types, [str(t) for t in rel.types])
                if problems:
                    errors.append((entry, "; ".join(problems)))
            con.close()
    finally:
        if trace:
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    for entry, why in errors:
        print(f"perfbench: {entry} failed: {why}")
    e2e = {"setup_s": setup_s, "time_to_result_ms": 1000 * median(pass_s)}
    attempted = len(ENTRIES) * (1 + n_passes)
    health = {
        "samples": len(pass_s),
        "pass_s": [round(s, 3) for s in pass_s],
        **{f"{e}_s": median([b - a for a, b in w]) for e, w in walls.items()},
        "failed_entries": sorted({e for e, _ in errors}),
        "failed_ratio": len(errors) / attempted,
    }
    per_layer = {}
    if trace:
        per_layer = {
            "session.start_s": session_start_s,
            "session.peak_rss_mb": rss.peak_bytes / 2**20,
            "traced.setup_s": e2e["setup_s"],
            "traced.time_to_result_ms": e2e["time_to_result_ms"],
        }
        spill = []
        for entry, layer in ENTRIES.items():
            cs, ws = counters[entry], walls[entry]
            per_layer[f"{layer}.wall_s"] = median([b - a for a, b in ws])
            for k in ("jobs", "task_ms", "jvm_cpu_ms", "shuffle_bytes"):
                per_layer[f"{layer}.{k}"] = float(median([c[k] for c in cs]))
            spill.extend(c["spill_bytes"] for c in cs)
            if layer == "operators.graph":
                per_layer[f"{layer}.stages"] = float(median([c["stages"] for c in cs]))
                per_layer[f"{layer}.idle_ms"] = 1000 * median(
                    [idle_s(a, b, c["active"]) for (a, b), c in zip(ws, cs)]
                )
        per_layer["plans.spill_bytes"] = float(max(spill))
        tracer.spans[root]["end"] = time.time()
        trace_path = root_dir / ".bench_work" / "traces" / f"{workload}-seed{seed}.json"
        tracer.write(trace_path, {"workload": workload, "seed": seed, "per_layer": per_layer,
                                  "end_to_end_traced": e2e, "health": health})
        health["trace_file"] = str(trace_path.relative_to(root_dir))
    return {"e2e": e2e, "per_layer": per_layer, "attempted": attempted, "failed": len(errors),
            "health": health}
