"""Tests of the benchmark's own rules: the percentile rule, failure
counting, the reference's drop rules, span self times and idle time,
the seed determinism of the tick generator, the fixed catalog tables,
and that ``BENCHMARK.json`` lists the metrics the command reports.  No
Spark needed::

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from perfbench.probes import Tracer, idle_s
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

SYMBOLS = ("IBM", "MSFT", "AAPL", "GOOGL")


def _gen(seed: int, n: int = 5000) -> Ticks:
    ts = BASE_US + np.arange(n, dtype=np.int64)
    return generate(np.random.default_rng(seed), ts, SYMBOLS, hot_share=0.3, block=200)


def _ticks(rows) -> Ticks:
    cols = list(zip(*rows))
    return Ticks(*(np.array(c, dtype=object) for c in cols[:3]), np.array(cols[3], dtype=np.int64))


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert percentile(values, 50) == 50
    assert percentile(values, 99) == 99
    assert percentile(values, 100) == 100
    assert percentile([7.0], 99) == 7.0
    assert median([3, 1, 2]) == 2
    assert median([4.0, 1.0]) == 2.5
    assert percentile(list(reversed(values)), 1) == 1
    with pytest.raises(ValueError):
        percentile([], 50)


def test_percentile_needs_ten_samples_beyond_it():
    assert supports_percentile(1000, 99)
    assert not supports_percentile(999, 99)
    assert supports_percentile(20, 50)
    assert not supports_percentile(19, 50)


def test_count_failures_counts_each_kind_once():
    want = [("IBM", 1, 108.5), ("IBM", 2, 109.0), ("MSFT", 3, 110.25)]
    nudged = math.nextafter(110.25, math.inf)  # one ulp off: bitwise mismatch
    got = [("IBM", 1, 108.5), ("IBM", 1, 108.5), ("MSFT", 3, nudged), ("AAPL", 9, 120.0)]
    f = count_failures(want, got, expected_valid=10, delivered=8)
    assert f == {
        "missing_alerts": 1,  # ("IBM", 2)
        "extra_alerts": 2,  # the duplicate and the unknown key
        "mismatched_alerts": 1,
        "undelivered_ticks": 2,
    }
    assert sum(count_failures(want, want, 10, 10).values()) == 0


def test_generator_is_deterministic_per_seed():
    a, b, c = _gen(7), _gen(7), _gen(8)
    for col in ("symbol", "price", "volume", "ts_us"):
        assert getattr(a, col).tolist() == getattr(b, col).tolist()
    assert a.price.tolist() != c.price.tolist()
    assert Reference().feed(a) == Reference().feed(b)


def test_generator_mixes_in_every_invalid_kind_and_alerts():
    t = _gen(3, 20_000)
    prices, volumes = t.price.tolist(), t.volume.tolist()
    assert "0.00" in prices and "n/a" in prices
    assert any(p.startswith("-") for p in prices)
    assert "12x" in volumes and None in volumes
    assert None in t.symbol.tolist()
    valid, alerts = Reference().feed(t)
    assert 0.95 * len(t) < valid < len(t)
    assert 0.05 * len(t) < len(alerts) < 0.5 * len(t)
    assert all(ma > 108.0 for _, _, ma in alerts)


def test_reference_drop_rules_and_window():
    rows = [
        ("IBM", "109.00", "1", 1),
        ("IBM", "0.00", "1", 2),  # non-positive price: dropped
        ("IBM", "-3.00", "1", 3),  # dropped
        ("IBM", "n/a", "1", 4),  # unparsable price: dropped
        ("IBM", "109.00", "12x", 5),  # unparsable volume: dropped
        ("IBM", "109.00", None, 6),  # missing volume: dropped
        (None, "500.00", "1", 7),  # no symbol: delivered, never keyed
        ("IBM", "109.00", "1", 8),
        ("IBM", "109.00", "1", 9),
        ("IBM", "109.00", "1", 10),
        ("IBM", "109.50", "1", 11),  # fifth valid IBM price: first window
    ]
    valid, alerts = Reference().feed(_ticks(rows))
    assert valid == 6
    assert alerts == [("IBM", 11, (109.0 * 4 + 109.5) / 5)]


def test_reference_state_carries_across_feeds():
    rows = [("IBM", "110.00", "1", i) for i in range(1, 8)]
    whole = Reference().feed(_ticks(rows))[1]
    ref = Reference()
    split = ref.feed(_ticks(rows[:3]))[1] + ref.feed(_ticks(rows[3:]))[1]
    assert split == whole and len(whole) == 3


def test_span_self_time_excludes_children():
    tr = Tracer(True)
    root = tr.add("run", 0.0, 10.0)
    tr.add("a", 1.0, 4.0, root)
    tr.add("b", 3.0, 6.0, root)  # overlaps a: the union covers 1..6
    tr.add("c", 9.0, 12.0, root)  # clipped to the parent's end
    spans = {s["name"]: s for s in tr.with_self_times()}
    assert spans["run"]["self_s"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert spans["a"]["self_s"] == pytest.approx(3.0)
    assert Tracer(False).add("x", 0.0, 1.0) is None


def test_benchmark_json_lists_what_the_command_reports():
    import json
    from pathlib import Path

    from perfbench.run import END_TO_END, PER_LAYER

    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )
    assert {w["name"] for w in spec["workloads"]} <= {"live_paper", "backfill_wide", "catalog"}


def test_catalog_tables_are_fixed(tmp_path):
    import pyarrow.parquet as pq

    from perfbench.tables import write_tables

    a, b = write_tables(tmp_path / "a"), write_tables(tmp_path / "b")
    for name in ("events", "lineitem", "embeddings"):
        ta, tb = pq.read_table(a / f"{name}.parquet"), pq.read_table(b / f"{name}.parquet")
        assert ta.num_rows > 0 and ta.equals(tb)
    events = pq.read_table(a / "events.parquet").to_pydict()
    assert all(x < y for x, y in zip(events["ts"], events["ts"][1:]))
    assert min(events["value"]) > 0


def test_idle_time_is_wall_time_outside_stages():
    # stages run 1..3 and 2..5 (overlapping) and 9..12 (clipped at 10)
    assert idle_s(0.0, 10.0, [(2.0, 5.0), (1.0, 3.0), (9.0, 12.0)]) == pytest.approx(5.0)
    assert idle_s(0.0, 4.0, []) == pytest.approx(4.0)
