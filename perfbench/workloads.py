"""The benchmark's streaming workloads, both driving ``engine.LiveEngine``
through its public constructor, ``start``/``stop`` and its ``on_alert``
and ``logger`` callbacks, on ``local[3]``.

* ``live_paper`` — the paper's live pipeline in an open loop: the
  benchmark's main thread, as generator, spools a file of 500 ticks
  every 0.5 s over the 4 default symbols, on schedule whether or not
  the engine keeps up.
* ``backfill_wide`` — a closed loop: one round of 500,000 history
  ticks over 5,000 symbols, dropped into the spool at once after the
  warm-up batch.

Ticks enter through the engine's AlphaVantage spool directory in the
raw quote shape, with the engine's own write-a-dotfile-then-rename
protocol.  The AlphaVantage poller is given a fetcher that returns the
API-limit ``{"Note": ...}`` payload, so it writes nothing; the rate
sources are off.  Every alert is checked against ``ticks.Reference``.
"""

from __future__ import annotations

import calendar
import dataclasses
import datetime as dt
import math
import os
import re
import shutil
import threading
import time
from pathlib import Path

import numpy as np
from financial_data_stream_processing_engine_spark.config import DEFAULT_CONFIG
from financial_data_stream_processing_engine_spark.engine import LiveEngine
from financial_data_stream_processing_engine_spark.session import get_spark
from financial_data_stream_processing_engine_spark.sources.alpha_vantage import AlphaVantageSource

from perfbench.probes import (
    RssSampler,
    Tracer,
    attach_progress_listener,
    batch_stage_counters,
    stop_session,
)
from perfbench.ticks import (
    BASE_US,
    Reference,
    Ticks,
    count_failures,
    generate,
    median,
    percentile,
    supports_percentile,
)

#: three task slots on a 4-vCPU host: the fourth runs the Spark driver,
#: the generator and the JVM's own threads.  With four slots they
#: competed with every batch for a core, and tick-to-alert latency
#: spread about twice as wide from run to run.
MASTER = "local[3]"
#: every run ends within this many seconds of its start, drained or not
RUN_DEADLINE_S = 150.0

LIVE_FILE_TICKS = 500  # one spool file per 0.5 s: ~1,000 ticks/s
LIVE_INTERVAL_S = 0.5  # the reference's WebSocketMock interval
BACKFILL_SYMBOLS = tuple(f"S{i:04d}" for i in range(5000))
BACKFILL_ROUND_TICKS = 500_000
BACKFILL_ROUND_FILES = 4  # one read task per file
ROUND_OFFSET_US = 10**9  # arrival offset of the backfill round after the warm-up ticks
WARMUP_TICKS = 200

_EPOCH_LINE = re.compile(r"epoch=(\d+) rows=(\d+)")


def _api_limit(url: str, timeout_s: float) -> dict:
    """AlphaVantage's rate-limit answer: the poller drops it and spools nothing."""
    return {"Note": "Thank you for using Alpha Vantage! Our standard API rate limit is 25 requests per day."}


def engine_config():
    """The engine's defaults, without the state TTL.

    With a TTL the stateful operator uses a processing-time timeout, and
    Structured Streaming then runs a no-data micro-batch back to back
    whenever the engine is idle.  A round or a drain would wait on a
    batch that carries no ticks, and stopping would interrupt one.
    Without a TTL the state is unbounded, as in the reference."""
    return dataclasses.replace(DEFAULT_CONFIG, state_ttl_ms=None)


def _ts_us(value: dt.datetime) -> int:
    # collected timestamps are naive local time; the process runs in UTC
    return calendar.timegm(value.timetuple()) * 1_000_000 + value.microsecond


def _iso_s(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


class EngineRun:
    """One ``LiveEngine`` fed through its spool directory, recording what
    its ``logger`` and ``on_alert`` callbacks report."""

    def __init__(self, spark, config, work: Path, tracer: Tracer, root: int | None) -> None:
        self.spool = work / "spool"
        self.spool.mkdir(parents=True)
        self.checkpoint = work / "checkpoint"
        self.tracer = tracer
        self.root = root
        self.cond = threading.Condition()
        self.delivered = 0
        self.alert_rows = 0
        self.last_t = 0.0
        self.epochs: list[tuple[float, int, int]] = []  # (time, epoch, rows)
        self.alert_calls: list[tuple[float, list, int]] = []  # (time, rows, suppressed)
        self.engine = LiveEngine(
            spark,
            config=config,
            av_source=AlphaVantageSource(
                api_key="perfbench", symbols=config.symbols, fetch=_api_limit
            ),
            on_alert=self._on_alert,
            logger=self._log,
            ws_rows_per_second=0,
            csv_rows_per_second=0,
            keep_recent=0,
            max_alerts_per_epoch=2**31 - 1,
            spool_dir=str(self.spool),
        )

    # -- callbacks (run on the stream execution thread) --------------------

    def _log(self, line: str) -> None:
        t = time.time()
        m = _EPOCH_LINE.match(line)
        if m is None:
            return
        with self.cond:
            self.epochs.append((t, int(m.group(1)), int(m.group(2))))
            self.delivered += int(m.group(2))
            self.last_t = t
            self.cond.notify_all()

    def _on_alert(self, rows: list, n_suppressed: int) -> None:
        t = time.time()
        with self.cond:
            self.alert_calls.append((t, rows, n_suppressed))
            self.alert_rows += len(rows) + n_suppressed
            self.last_t = t
            self.cond.notify_all()
        self.tracer.add("on_alert", t, time.time(), self.root, rows=len(rows))

    # -- spool protocol ----------------------------------------------------

    def stage(self, ticks: Ticks, name: str) -> None:
        """Write a spool file as a dotfile, which the file source ignores."""
        import pyarrow.parquet as pq

        pq.write_table(ticks.to_arrow(), self.spool / f".{name}.parquet")

    def publish(self, name: str) -> None:
        os.rename(self.spool / f".{name}.parquet", self.spool / f"{name}.parquet")

    def wait_for(self, valid: int, alerts: int, deadline: float) -> float | None:
        """Block until ``valid`` ticks and ``alerts`` alert rows have been
        delivered in total; returns the time of the callback that
        completed them, or None at the deadline or once the query died."""
        while time.time() < deadline:
            with self.cond:
                if self.cond.wait_for(
                    lambda: self.delivered >= valid and self.alert_rows >= alerts,
                    timeout=min(1.0, max(0.0, deadline - time.time())),
                ):
                    return self.last_t
            if not self.engine.query.isActive:
                return None
        return None

    def delivered_alerts(self) -> list[tuple[str, int, float, float]]:
        """(symbol, arrival_us, moving_average, delivery time) per alert row."""
        return [
            (r["symbol"], _ts_us(r["ts"]), r["moving_average"], t)
            for t, rows, _ in self.alert_calls
            for r in rows
        ]


@dataclasses.dataclass
class Plan:
    """Inputs of one run, made from the seed before anything is timed."""

    warmup: Ticks
    expected_valid: int  # ticks that survive cleaning, warm-up included
    expected_alerts: list  # reference alerts, warm-up included
    warmup_valid: int
    warmup_alerts: int
    reference_ticks_per_s: float
    spooled: int  # raw ticks the run spools, warm-up included


def _warmup(rng: np.random.Generator, symbols) -> Ticks:
    # all-hot, all-valid: the first epoch always carries alerts
    ts = BASE_US + np.arange(WARMUP_TICKS, dtype=np.int64)
    return generate(rng, ts, symbols, hot_share=1.0, block=WARMUP_TICKS, invalid_share=0.0,
                    null_symbol_share=0.0)


def _feed_timed(ref: Reference, ticks: Ticks) -> tuple[int, list, float]:
    t0 = time.perf_counter()
    valid, alerts = ref.feed(ticks)
    return valid, alerts, time.perf_counter() - t0


class LivePaper:
    """Open loop at ~1,000 ticks/s over the 4 default symbols."""

    name = "live_paper"

    def __init__(self, seed: int, seconds: float, config) -> None:
        rng = np.random.default_rng([seed, 1])
        self.n_files = max(1, int(seconds / LIVE_INTERVAL_S))
        n = self.n_files * LIVE_FILE_TICKS
        f, i = np.divmod(np.arange(n, dtype=np.int64), LIVE_FILE_TICKS)
        # due time of file f is start + f * 0.5 s; the µs offset keeps order strict
        ts = BASE_US + (f + 1) * 500_000 + i
        warm = _warmup(rng, config.symbols)
        ticks = generate(rng, ts, config.symbols, hot_share=0.3, block=200)
        self.files = [
            ticks.slice(k * LIVE_FILE_TICKS, (k + 1) * LIVE_FILE_TICKS) for k in range(self.n_files)
        ]
        ref = Reference(config.moving_average_window, config.price_alert_threshold)
        wv, wa, _ = _feed_timed(ref, warm)
        valid, alerts, secs = _feed_timed(ref, ticks)
        self.file_valid = [Reference().feed(f)[0] for f in self.files]
        self.plan = Plan(
            warmup=warm, expected_valid=wv + valid, expected_alerts=wa + alerts, warmup_valid=wv,
            warmup_alerts=len(wa), reference_ticks_per_s=n / secs, spooled=WARMUP_TICKS + n,
        )
        self.late_s: list[float] = []
        self.backlog_max = 0
        self.t_start = 0.0

    def stage(self, run: EngineRun) -> None:
        for k, f in enumerate(self.files):
            run.stage(f, f"live-{k:05d}")

    def measure(self, run: EngineRun, tracer: Tracer, parent: int | None) -> None:
        self.t_start = time.time() + 0.05
        generated_valid = 0
        for k in range(self.n_files):
            due = self.t_start + k * LIVE_INTERVAL_S
            while (wait := due - time.time()) > 0:
                time.sleep(wait)
            t0 = time.time()
            run.publish(f"live-{k:05d}")
            t1 = time.time()
            tracer.add("spool_file", t0, t1, parent, file=k)
            self.late_s.append(t1 - due)
            generated_valid += self.file_valid[k]
            self.backlog_max = max(self.backlog_max, generated_valid - (run.delivered - self.plan.warmup_valid))

    def due_time(self, ts_us: int) -> float | None:
        f = (ts_us - BASE_US) // 500_000 - 1
        return None if f < 0 else self.t_start + f * LIVE_INTERVAL_S

    def throughput(self, t_done: float) -> float:
        """Ticks over the time from the first file's due time to the
        delivery that completed the last one (capped by the offered
        rate: context, not capacity)."""
        return self.n_files * LIVE_FILE_TICKS / (t_done - self.t_start)


class BackfillWide:
    """Closed loop: one 500,000-tick round over 5,000 symbols, dropped
    into the spool at once after the warm-up batch."""

    name = "backfill_wide"

    def __init__(self, seed: int, seconds: float, config) -> None:
        rng = np.random.default_rng([seed, 2])
        warm = _warmup(rng, BACKFILL_SYMBOLS[:4])
        ts = BASE_US + ROUND_OFFSET_US + np.arange(BACKFILL_ROUND_TICKS, dtype=np.int64)
        self.ticks = generate(rng, ts, BACKFILL_SYMBOLS, hot_share=0.05, block=40_000)
        ref = Reference(config.moving_average_window, config.price_alert_threshold)
        wv, wa, _ = _feed_timed(ref, warm)
        valid, alerts, secs = _feed_timed(ref, self.ticks)
        self.plan = Plan(
            warmup=warm, expected_valid=wv + valid, expected_alerts=wa + alerts, warmup_valid=wv,
            warmup_alerts=len(wa), reference_ticks_per_s=BACKFILL_ROUND_TICKS / secs,
            spooled=WARMUP_TICKS + BACKFILL_ROUND_TICKS,
        )
        self.late_s = [0.0]  # the round is dropped at once, never late
        self.backlog_max = valid
        self.t_drop = 0.0

    def stage(self, run: EngineRun) -> None:
        per = BACKFILL_ROUND_TICKS // BACKFILL_ROUND_FILES
        for k in range(BACKFILL_ROUND_FILES):
            run.stage(self.ticks.slice(k * per, (k + 1) * per), f"round-{k}")

    def measure(self, run: EngineRun, tracer: Tracer, parent: int | None) -> None:
        t0 = time.time()
        for k in range(BACKFILL_ROUND_FILES):
            run.publish(f"round-{k}")
        self.t_drop = time.time()
        tracer.add("spool_round", t0, self.t_drop, parent)

    def due_time(self, ts_us: int) -> float | None:
        return self.t_drop if ts_us >= BASE_US + ROUND_OFFSET_US else None

    def throughput(self, t_done: float) -> float:
        """The round's ticks over the time from its drop to the delivery
        that completed it."""
        return BACKFILL_ROUND_TICKS / (t_done - self.t_drop)


WORKLOADS = {w.name: w for w in (LivePaper, BackfillWide)}


def _per_batch(progress: list[dict], counters: dict[int, dict], alerts_by_epoch: dict[int, int],
               rows_by_epoch: dict[int, int]) -> dict[str, float]:
    """Per-layer medians over the measured micro-batches (every batch
    after the warm-up batch 0)."""
    batches = [p for p in progress if p["batchId"] > 0]
    if not batches:
        return {}

    def med(values) -> float:
        values = list(values)
        return float(median(values)) if values else 0.0

    d = [p["durationMs"] for p in batches]
    starts = sorted(_iso_s(p["timestamp"]) for p in batches)
    ops = [p["stateOperators"][0] for p in batches if p["stateOperators"]]
    c = [counters.get(p["batchId"], {}) for p in batches]
    rows = sum(rows_by_epoch.get(p["batchId"], 0) for p in batches)
    alerts = sum(alerts_by_epoch.get(p["batchId"], 0) for p in batches)
    return {
        "sources.latest_offset_ms": med(x.get("latestOffset", 0) for x in d),
        "sources.get_batch_ms": med(x.get("getBatch", 0) for x in d),
        "engine.batches": float(len(batches)),
        "engine.batch_ms": med(x["triggerExecution"] for x in d),
        "engine.batch_interval_ms": med(1000 * (b - a) for a, b in zip(starts, starts[1:])),
        "engine.planning_ms": med(x.get("queryPlanning", 0) for x in d),
        "engine.commit_ms": med(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d),
        "engine.add_batch_ms": med(x.get("addBatch", 0) for x in d),
        "engine.jobs_per_batch": med(x.get("jobs", 0) for x in c),
        "engine.stages_per_batch": med(x.get("stages", 0) for x in c),
        "engine.tasks_per_batch": med(x.get("tasks", 0) for x in c),
        "engine.task_ms_per_batch": med(x.get("task_ms", 0) for x in c),
        "engine.jvm_cpu_ms_per_batch": med(x.get("jvm_cpu_ms", 0) for x in c),
        "engine.python_seam_ms_per_batch": med(
            x.get("task_ms", 0) - x.get("jvm_cpu_ms", 0) for x in c
        ),
        "engine.shuffle_bytes_per_batch": med(x.get("shuffle_bytes", 0) for x in c),
        "engine.alerts_per_batch": alerts / len(batches),
        "engine.alert_ratio": alerts / rows if rows else 0.0,
        "streaming.stateful.updates_ms": med(o["allUpdatesTimeMs"] for o in ops),
        "streaming.stateful.commit_ms": med(o["commitTimeMs"] for o in ops),
        "streaming.stateful.rows_updated": med(o["numRowsUpdated"] for o in ops),
        "streaming.stateful.state_rows": float(ops[-1]["numRowsTotal"]) if ops else 0.0,
        "streaming.stateful.state_bytes": float(ops[-1]["memoryUsedBytes"]) if ops else 0.0,
    }


def run(workload: str, seed: int, seconds: float, trace: bool, root_dir: Path) -> dict:
    """One benchmark run.  Returns the end-to-end metrics, the per-layer
    metrics (traced runs only), the failure counts and health figures."""
    deadline = time.time() + RUN_DEADLINE_S
    work = root_dir / ".bench_work" / f"run-{os.getpid()}"
    work.mkdir(parents=True)
    tracer = Tracer(trace)
    root = tracer.add("run", time.time(), float("nan"), workload=workload, seed=seed)
    rss = RssSampler()
    if trace:
        rss.start()
    try:
        config = engine_config()
        with tracer.span("plan_inputs", root):
            w = WORKLOADS[workload](seed, seconds, config)

        t0 = time.time()
        with tracer.span("get_spark", root):
            spark = get_spark("perfbench", config=config, master=MASTER)
        session_start_s = time.time() - t0
        progress: list[dict] = []
        if trace:
            attach_progress_listener(spark, progress)
        try:
            run_ = EngineRun(spark, config, work, tracer, root)
            with tracer.span("stage_inputs", root):
                run_.stage(w.plan.warmup, "warmup")
                w.stage(run_)  # dotfiles: invisible to the engine until published
            run_.publish("warmup")
            t1 = time.time()
            with tracer.span("LiveEngine.start", root):
                run_.engine.start(checkpoint_dir=str(run_.checkpoint))
            warmed = run_.wait_for(w.plan.warmup_valid, w.plan.warmup_alerts, deadline)
            setup_s = session_start_s + (time.time() - t1)
            if warmed is None:
                raise RuntimeError("the warm-up batch was not delivered before the deadline")

            with tracer.span("measure", root) as measure_span:
                w.measure(run_, tracer, measure_span)
            with tracer.span("drain", root):
                t_done = run_.wait_for(w.plan.expected_valid, len(w.plan.expected_alerts), deadline)
            run_id = str(run_.engine.query.runId)
            with tracer.span("LiveEngine.stop", root):
                # drained: let the last batch commit before stopping
                (run_.engine.drain_and_stop if t_done is not None else run_.engine.stop)()
            counters = batch_stage_counters(spark, run_id) if trace else {}
        finally:
            stop_session(spark)
    finally:
        if trace:
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    got = run_.delivered_alerts()
    failures = count_failures(
        w.plan.expected_alerts, [g[:3] for g in got], w.plan.expected_valid, run_.delivered
    )
    latencies_ms = [
        1000.0 * (t - due) for _, ts, _, t in got if (due := w.due_time(ts)) is not None
    ]

    def pct(q: float) -> float:
        ok = supports_percentile(len(latencies_ms), q)
        return percentile(latencies_ms, q) if ok else math.nan

    e2e = {"setup_s": setup_s, "time_to_result_ms": pct(50)}
    ticks_per_s = math.nan if t_done is None else w.throughput(t_done)
    attempted = w.plan.spooled
    failed = min(attempted, sum(failures.values()))
    health = {
        "samples": len(latencies_ms),
        "tick_to_alert_p99_ms": pct(99),
        "ticks_per_s": ticks_per_s,
        "generated_ticks": attempted,
        "expected_valid_ticks": w.plan.expected_valid,
        "delivered_ticks": run_.delivered,
        "drained": t_done is not None,
        "generator_late_max_ms": 1000 * max(w.late_s),
        "generator_late_p50_ms": 1000 * median(w.late_s),
        "generator_files": len(w.late_s),
        "reference_ticks_per_s": w.plan.reference_ticks_per_s,
        "failed_ratio": failed / attempted,
        **failures,
    }
    per_layer = {}
    if trace:
        alerts_by_epoch: dict[int, int] = {}
        for t, rows, _ in run_.alert_calls:
            epoch = max((e for te, e, _ in run_.epochs if te <= t), default=0)
            alerts_by_epoch[epoch] = alerts_by_epoch.get(epoch, 0) + len(rows)
        rows_by_epoch = {e: n for _, e, n in run_.epochs}
        per_layer = {
            "session.start_s": session_start_s,
            "session.peak_rss_mb": rss.peak_bytes / 2**20,
            **_per_batch(progress, counters, alerts_by_epoch, rows_by_epoch),
            "sources.read_amplification": sum(p["numInputRows"] for p in progress) / attempted,
            "sources.backlog_ticks_max": float(w.backlog_max),
            "generator.late_max_ms": health["generator_late_max_ms"],
            "generator.late_p50_ms": health["generator_late_p50_ms"],
            "reference.ticks_per_s": w.plan.reference_ticks_per_s,
            "engine.ticks_per_s": ticks_per_s,
            **{f"traced.{k}": v for k, v in e2e.items()},
            "traced.tick_to_alert_p99_ms": health["tick_to_alert_p99_ms"],
        }
        for p in progress:
            start = _iso_s(p["timestamp"])
            tracer.add("epoch", start, start + p["durationMs"]["triggerExecution"] / 1000, root,
                       batch=p["batchId"], rows=p["numInputRows"])
        tracer.spans[root]["end"] = time.time()
        _nest_alerts(tracer)
        trace_path = root_dir / ".bench_work" / "traces" / f"{workload}-seed{seed}.json"
        tracer.write(trace_path, {"workload": workload, "seed": seed, "per_layer": per_layer,
                                  "end_to_end_traced": e2e, "health": health})
        health["trace_file"] = str(trace_path.relative_to(root_dir))
    return {"e2e": e2e, "per_layer": per_layer, "attempted": attempted, "failed": failed,
            "health": health}


def _nest_alerts(tracer: Tracer) -> None:
    """Parent each ``on_alert`` span to the epoch span it fell in."""
    epochs = [s for s in tracer.spans if s["name"] == "epoch"]
    for s in tracer.spans:
        if s["name"] == "on_alert":
            for e in epochs:
                if e["start"] <= s["start"] <= e["end"]:
                    s["parent"] = e["id"]
                    break
