"""Seeded synthesis of the ten engine tables at any scale factor.

The tables follow the family rules of the engine's star-schema testdata
(the same schemas, key ranges, categorical domains and value
distributions), so every registered query and its DuckDB oracle run on
them unchanged:

* row counts scale linearly with ``sf`` (lineitem ``6e6 * sf``, orders
  ``1.5e6 * sf``, parts ``2e5 * sf``, customers ``1.5e5 * sf``,
  suppliers ``1e4 * sf``, events ``1e6 * sf`` over ``1.5e4 * sf``
  users); documents and embeddings keep a floor of 500 rows, as the
  testdata's small decades do;
* events span one fixed month, so a larger ``sf`` densifies the time
  axis instead of stretching it;
* documents draw tokens from a fixed 30-word vocabulary, and one in
  twenty is a near-duplicate of an earlier document with ``dup``
  appended, which is what the dedup family looks for;
* embeddings are unit vectors around ten label centres.

The same ``(sf, seed)`` always gives byte-identical files: one
``numpy`` generator per table, derived from the seed, and a fixed
pyarrow writer configuration.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
N_LABELS = 10

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _EPOCH_1995).astype(np.int64))
_EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
_EVENTS_SPAN_US = 30 * 86400 * 10**6


def _rows(per_sf: float, sf: float, floor: int = 1) -> int:
    return max(floor, int(round(per_sf * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, uniform on ``[lo, hi]``."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _region(rng, sf):
    return pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )


def _nation(rng, sf):
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _customer(rng, sf):
    n = _rows(150_000, sf)
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )


def _supplier(rng, sf):
    n = _rows(10_000, sf)
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        }
    )


def _part(rng, sf):
    n = _rows(200_000, sf)
    keys = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": _pick(rng, names, n),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n)]
            ),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
        }
    )


def _day_stamps(days: np.ndarray) -> pa.Array:
    return pa.array(
        (_EPOCH_1995 + days.astype("timedelta64[D]")).astype("datetime64[us]")
    )


def _orders(rng, sf):
    n = _rows(1_500_000, sf)
    n_cust = _rows(150_000, sf)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": _day_stamps(rng.integers(0, _ORDER_DAYS + 1, n)),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )


def _lineitem(rng, sf):
    n = _rows(6_000_000, sf)
    return pa.table(
        {
            "l_orderkey": pa.array(
                rng.integers(0, _rows(1_500_000, sf), n, dtype=np.int64)
            ),
            "l_partkey": pa.array(
                rng.integers(0, _rows(200_000, sf), n, dtype=np.int64)
            ),
            "l_suppkey": pa.array(
                rng.integers(0, _rows(10_000, sf), n, dtype=np.int64)
            ),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _day_stamps(rng.integers(1, _ORDER_DAYS + 96, n)),
        }
    )


def _events(rng, sf):
    n = _rows(1_000_000, sf)
    n_users = _rows(15_000, sf)
    gaps = rng.exponential(1.0, n)
    offs = np.cumsum(gaps) / gaps.sum() * (_EVENTS_SPAN_US - 10**6)
    ts = _EVENTS_START + offs.astype(np.int64).astype("timedelta64[us]")
    value = np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng, sf):
    n = _rows(50_000, sf, floor=500)
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, sf):
    n = _rows(20_000, sf, floor=500)
    centres = rng.normal(0.0, 0.01, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n, dtype=np.int32)
    vecs = centres[labels] + rng.normal(0.0, 0.125, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
                flat,
            ),
            "label": pa.array(labels),
        }
    )


_BUILDERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def synthesize(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``<table>.parquet`` for every table into ``out_dir``;
    returns the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    streams = np.random.SeedSequence(seed).spawn(len(TABLES))
    rows = {}
    for name, ss in zip(TABLES, streams):
        table = _BUILDERS[name](np.random.default_rng(ss), sf)
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            row_group_size=1 << 24,
        )
        rows[name] = table.num_rows
    return rows
