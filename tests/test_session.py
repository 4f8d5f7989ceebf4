"""Pure-function tests for session defaults (no Spark session)."""

from __future__ import annotations

import pytest

from financial_data_stream_processing_engine_spark import session


@pytest.fixture
def uncapped_64_cores(monkeypatch):
    """64 detected cores and no physical-memory cap, so a master whose
    slot count is misread falls back to a visibly larger heap."""

    def no_sysconf(name):
        raise OSError(name)

    monkeypatch.setattr(session.os, "cpu_count", lambda: 64)
    monkeypatch.setattr(session.os, "sysconf", no_sysconf)


@pytest.mark.parametrize(
    "master, expected",
    [
        ("local", "16384m"),
        ("local[*]", "16384m"),
        ("local[1]", "1024m"),
        ("local[4]", "4096m"),
        ("local[4,2]", "4096m"),
        ("local[32,3]", "8192m"),
        ("local[*,2]", "16384m"),
        ("spark://host:7077", "1g"),
    ],
)
def test_default_driver_mem_counts_slots(uncapped_64_cores, master, expected):
    assert session._default_driver_mem(master) == expected
