"""Fixed synthetic tables for the ``catalog`` workload.

The catalog entries read driver-shaped parquet tables (``events``,
``lineitem``, ``embeddings``) from a directory.  The benchmark writes
its own small ones, with the fixture's column names and types, from a
fixed seed, so a run reads nothing outside its checkout and every run
sees the same bytes.  Plain NumPy + pyarrow: no Spark needed.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

#: the tables never change with ``--seed``: the catalog's oracle SQL is
#: checked on exactly these inputs.
TABLE_SEED = 20240101

EVENTS = 4_000
USERS = 40
LINEITEMS = 12_000
EMBEDDINGS = 150
EMBEDDING_DIM = 32
LABELS = 6

_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400 * 1_000_000
_SHIP_T0_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z


def events(rng: np.random.Generator):
    import pyarrow as pa

    gaps = rng.integers(1, 600_000_000, EVENTS)  # up to 10 minutes apart
    ts = _T0_US + np.cumsum(gaps)
    kinds = np.array(["click", "purchase", "error", "signup", "view"], dtype=object)
    value = np.round(rng.lognormal(3.5, 0.9, EVENTS), 2)
    return pa.table({
        "event_id": pa.array(np.arange(EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, EVENTS, dtype=np.int64)),
        "event_type": pa.array(kinds[rng.integers(0, len(kinds), EVENTS)], pa.string()),
        "value": pa.array(np.maximum(value, 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)], pa.string()),
    })


def lineitem(rng: np.random.Generator):
    import pyarrow as pa

    n = LINEITEMS
    quantity = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(np.arange(n, dtype=np.int64) // 4),
        "l_partkey": pa.array(rng.integers(0, 400, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 20, n, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n) % 4 + 1).astype(np.int32)),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(np.round(quantity * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)],
                                 pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[rng.integers(0, 2, n)],
                                 pa.string()),
        "l_shipdate": pa.array(_SHIP_T0_US + rng.integers(1, 2500, n) * _DAY_US,
                               pa.timestamp("us")),
    })


def embeddings(rng: np.random.Generator):
    """Unit vectors around one centre per label.  The noise is set so
    the similarity graph's truss communities leave a few nodes for the
    Louvain refinement to move (``graph_louvain_refine`` runs several
    rounds)."""
    import pyarrow as pa

    label = rng.integers(0, LABELS, EMBEDDINGS).astype(np.int32)
    centres = rng.normal(0.0, 1.0, (LABELS, EMBEDDING_DIM))
    vec = centres[label] + rng.normal(0.0, 1.6, (EMBEDDINGS, EMBEDDING_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def write_tables(out_dir: Path) -> Path:
    """Write ``{out_dir}/{name}.parquet`` for every table; returns ``out_dir``."""
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=True)
    for i, make in enumerate((events, lineitem, embeddings)):
        table = make(np.random.default_rng([TABLE_SEED, i]))
        pq.write_table(table, out_dir / f"{make.__name__}.parquet")
    return out_dir
