"""Seeded tick generation, the single-threaded reference pipeline, and the
statistics rules the benchmark reports with.

Nothing here imports Spark: the generator and the reference are plain
NumPy/Python, so they can be tested (and timed as the single-threaded
baseline) on their own.

Ticks are produced in the AlphaVantage GLOBAL_QUOTE raw shape the live
engine's spool source reads: symbol, price and volume as *strings*, plus
an ``arrival`` instant in µs since the epoch.  A small share of ticks is
deliberately invalid so the engine's drop paths run and are checked.
"""

from __future__ import annotations

import math
import statistics
from collections import deque
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

import numpy as np

#: 2024-01-01T00:00:00Z in µs since the epoch: every generated ``arrival``
#: is an offset from here, so the inputs depend on the seed alone.
BASE_US = 1_704_067_200_000_000

#: invalid-tick kinds, each mirrored by one drop rule of the reference
#: (``Reference.feed``) and of the engine (``normalize_alpha_vantage`` +
#: ``clean``).
INVALID_KINDS = ("zero_price", "negative_price", "bad_price", "bad_volume", "missing_volume")


@dataclass
class Ticks:
    """Column-wise raw ticks in arrival order."""

    symbol: np.ndarray  # object: str, or None for a symbol-less quote
    price: np.ndarray  # object: str or None
    volume: np.ndarray  # object: str or None
    ts_us: np.ndarray  # int64, strictly increasing

    def __len__(self) -> int:
        return len(self.ts_us)

    def to_arrow(self):
        """The spool-file table (same columns and types as the engine's
        own AlphaVantage poller writes)."""
        import pyarrow as pa

        return pa.table(
            {
                "01. symbol": pa.array(self.symbol, pa.string()),
                "05. price": pa.array(self.price, pa.string()),
                "06. volume": pa.array(self.volume, pa.string()),
                "arrival": pa.array(self.ts_us, pa.timestamp("us")),
            }
        )

    def slice(self, start: int, stop: int) -> Ticks:
        return Ticks(
            self.symbol[start:stop],
            self.price[start:stop],
            self.volume[start:stop],
            self.ts_us[start:stop],
        )


def generate(
    rng: np.random.Generator,
    ts_us: np.ndarray,
    symbols: Sequence[str],
    hot_share: float,
    block: int,
    invalid_share: float = 0.02,
    null_symbol_share: float = 0.005,
) -> Ticks:
    """``len(ts_us)`` ticks over ``symbols``, drawn from ``rng``.

    Prices follow a per-(symbol, block) regime: ``block`` consecutive
    ticks of the stream share one hot/cold draw per symbol, hot with
    probability ``hot_share``.  Hot prices lie in [108.5, 112), cold in
    [96, 106), so a symbol's 5-tick average crosses the 108.0 alert
    threshold only inside hot blocks and the alert share is fixed by
    ``hot_share`` and ``block``.
    """
    n = len(ts_us)
    sym_idx = rng.integers(0, len(symbols), n)
    hot = rng.random(((n + block - 1) // block, len(symbols))) < hot_share
    tick_hot = hot[np.arange(n) // block, sym_idx]
    u = rng.random(n)
    price_f = np.where(tick_hot, 108.5 + 3.5 * u, 96.0 + 10.0 * u)
    price = np.array([f"{p:.2f}" for p in price_f.tolist()], dtype=object)
    volume = rng.integers(1, 10_000, n).astype(str).astype(object)
    symbol = np.asarray(symbols, dtype=object)[sym_idx]

    invalid = rng.random(n) < invalid_share
    kind = rng.integers(0, len(INVALID_KINDS), n)
    price[invalid & (kind == 0)] = "0.00"
    neg = invalid & (kind == 1)
    price[neg] = np.array(["-" + p for p in price[neg]], dtype=object)
    price[invalid & (kind == 2)] = "n/a"
    volume[invalid & (kind == 3)] = "12x"
    volume[invalid & (kind == 4)] = None
    symbol[rng.random(n) < null_symbol_share] = None
    return Ticks(symbol, price, volume, np.asarray(ts_us, dtype=np.int64))


def _num(s: str | None, cast):
    if s is None:
        return None
    try:
        return cast(s)
    except ValueError:
        return None


class Reference:
    """The paper's original single-threaded design: clean → per-symbol
    5-tick moving average over a ``deque`` → threshold alert, one tick at
    a time.  Same drop rules as ``tests/reference_semantics.py``
    (``reference_pipeline``) once the raw strings are parsed the way the
    engine's AlphaVantage normalizer parses them: an unparsable price or
    volume is a missing one.  State carries across ``feed`` calls."""

    def __init__(self, n: int = 5, threshold: float = 108.0) -> None:
        self.n = n
        self.threshold = threshold
        self.hist: dict[str, deque] = {}

    def feed(self, ticks: Ticks) -> tuple[int, list[tuple[str, int, float]]]:
        """Returns (ticks that survive cleaning, alerts as
        ``(symbol, arrival_us, moving_average)``)."""
        n, threshold, hist = self.n, self.threshold, self.hist
        valid = 0
        alerts = []
        for sym, p, v, ts in zip(
            ticks.symbol.tolist(), ticks.price.tolist(), ticks.volume.tolist(), ticks.ts_us.tolist()
        ):
            price = _num(p, float)
            if price is None or price <= 0 or _num(v, int) is None:
                continue
            valid += 1
            if sym:
                h = hist.get(sym)
                if h is None:
                    h = hist[sym] = deque(maxlen=n)
                h.append(price)
                if len(h) == n:
                    ma = sum(h) / n
                    if ma > threshold:
                        alerts.append((sym, ts, ma))
        return valid, alerts


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q``
    percent of the sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def supports_percentile(n_samples: int, q: float) -> bool:
    """A percentile is reported only with at least ten samples beyond it."""
    return n_samples * (100.0 - q) / 100.0 >= 10


def median(values: Sequence[float]) -> float:
    """The middle value, or the mean of the two middle values."""
    return statistics.median(values)


def count_failures(
    expected_alerts: Iterable[tuple[str, int, float]],
    got_alerts: Iterable[tuple[str, int, float]],
    expected_valid: int,
    delivered: int,
) -> dict[str, int]:
    """Compare delivered output with the reference.

    Alerts are keyed by ``(symbol, arrival_us)`` and their moving
    averages compared bitwise.  Every missing, extra (including a
    duplicate delivery) or mis-valued alert counts once, and so does
    every valid tick the engine failed to deliver (or delivered more
    than once)."""
    want = {(s, t): ma for s, t, ma in expected_alerts}
    seen: set[tuple[str, int]] = set()
    extra = mismatched = 0
    for s, t, ma in got_alerts:
        key = (s, t)
        if key not in want or key in seen:
            extra += 1
            continue
        seen.add(key)
        if float(ma).hex() != float(want[key]).hex():
            mismatched += 1
    return {
        "missing_alerts": len(want) - len(seen),
        "extra_alerts": extra,
        "mismatched_alerts": mismatched,
        "undelivered_ticks": abs(expected_valid - delivered),
    }
