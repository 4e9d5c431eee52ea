"""Seeded inputs: TPC-H-style tables for rank_stats, raw detector events
for event_serving.

Everything here is a pure function of the seed and the scale. Generation
runs in a child process (``generate``) so that its memory never shows in
the driver's peak resident set.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows at scale 1.0: sf0.03, three times the engine's sf0.01 test tables.
#: At sf0.01 a steady rank_stats pass was about 92 % size-independent
#: (per-job and per-query fixed cost); sf0.03 gives the row-grain
#: exchanges a larger share at a pass time the run budget still allows.
LINEITEM_ROWS = 180_000
ORDERS_ROWS = 45_000
EVENTS_ROWS = 30_000
CUSTOMERS = 4_500
EVENT_USERS = 450

#: raw detector events at scale 1.0: files x events per file, mean points
RAW_FILES = 8
RAW_EVENTS_PER_FILE = 48
RAW_MEAN_POINTS = 1000

#: Spark DDL of the converted event table (the ingest schema)
EVENT_SCHEMA_DDL = (
    "run long, subrun long, event long, "
    "spacepoint_t array<double>, spacepoint_t_shape array<long>, "
    "ssnet_label array<long>, ssnet_label_shape array<long>"
)
TENSOR_COLS = ("spacepoint_t", "ssnet_label")

_DAY_US = 86_400 * 1_000_000

# Schemas of the tables the rank_stats queries never read. tests/oracle
# opens a DuckDB view over every driver table, so they exist, empty.
_EMPTY_TABLES = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    ),
}


def _rows(n: int, scale: float) -> int:
    return max(50, int(n * scale))


def _timestamps(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "us").astype(np.int64)
    hi = np.datetime64(last, "us").astype(np.int64)
    days = rng.integers(0, (hi - lo) // _DAY_US + 1, n)
    return pa.array(lo + days * _DAY_US, pa.timestamp("us"))


def _cents(values: np.ndarray) -> np.ndarray:
    return np.round(values, 2)


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """The driver tables at ``out_dir/<name>.parquet``.

    Value domains follow the engine's sf0.1 test tables: quantities are a
    bounded domain (50 values), extended and total prices are near-unique
    cents, event values are a skewed cents distribution."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    n_li, n_ord = _rows(LINEITEM_ROWS, scale), _rows(ORDERS_ROWS, scale)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2_000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, n_li)),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _timestamps(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(
                rng.integers(0, _rows(CUSTOMERS, scale), n_ord), pa.int64()
            ),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": _cents(rng.uniform(1000.0, 500_000.0, n_ord)),
            "o_orderdate": _timestamps(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                )
            ),
        }
    )
    n_ev = _rows(EVENTS_ROWS, scale)
    ts_lo = np.datetime64("2024-01-01", "us").astype(np.int64)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                ts_lo + rng.integers(0, 30 * _DAY_US, n_ev), pa.timestamp("us")
            ),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n_ev), pa.int64()),
            "event_type": pa.array(
                rng.choice(["click", "error", "purchase", "signup", "view"], n_ev)
            ),
            "value": _cents(rng.exponential(50.0, n_ev)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    for name, table in {"lineitem": lineitem, "orders": orders, "events": events}.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    for name, schema in _EMPTY_TABLES.items():
        pq.write_table(schema.empty_table(), os.path.join(out_dir, f"{name}.parquet"))


def event_key(file_no: int, i: int) -> tuple[int, int, int]:
    """(run, subrun, event) of the i-th event of raw file ``file_no``.

    Event numbers step by 2, so the odd numbers inside the range are keys
    that no event has: absent lookups that row-group statistics cannot
    rule out."""
    return 100 + file_no // 4, file_no, 2 * i


def write_raw_events(out_dir: str, seed: int, scale: float) -> list[str]:
    """Raw detector files, one ``.npz`` per file: ragged (N,4) float64
    spacepoints and (N,) int64 labels, N uniform in 0.5x..1.5x the mean."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    per_file = max(4, int(RAW_EVENTS_PER_FILE * scale))
    paths = []
    for f in range(RAW_FILES):
        n = (RAW_MEAN_POINTS * rng.uniform(0.5, 1.5, per_file)).astype(np.int64)
        keys = np.array([event_key(f, i) for i in range(per_file)], np.int64)
        path = os.path.join(out_dir, f"raw_{f:03d}.npz")
        np.savez(
            path,
            keys=keys,
            n=n,
            spacepoints=rng.uniform(-100.0, 100.0, (int(n.sum()), 4)),
            labels=rng.integers(0, 7, int(n.sum())),
        )
        paths.append(path)
    return paths


def read_raw_events(path: str) -> Iterator[dict]:
    """``ingest.EventReader`` over one raw file; runs in Spark's Python
    workers, so it lives at module level of an importable module."""
    with np.load(path) as z:
        keys, n = z["keys"], z["n"]
        sp, lab = z["spacepoints"], z["labels"]
    offs = np.concatenate([[0], np.cumsum(n)])
    for i, (run, subrun, event) in enumerate(keys):
        yield {
            "run": int(run),
            "subrun": int(subrun),
            "event": int(event),
            "spacepoint_t": sp[offs[i] : offs[i + 1]],
            "ssnet_label": lab[offs[i] : offs[i + 1]],
        }


def event_digest(ev: dict) -> str:
    """Bit-level identity of one event's tensors: dtype, shape and bytes."""
    h = hashlib.blake2b(digest_size=16)
    for col in TENSOR_COLS:
        a = np.ascontiguousarray(ev[col])
        h.update(f"{col}:{a.dtype.str}:{a.shape};".encode())
        h.update(a.tobytes())
    return h.hexdigest()


def expected_events(paths: list[str]) -> dict[tuple[int, int, int], str]:
    """key -> digest for every generated event."""
    return {
        (ev["run"], ev["subrun"], ev["event"]): event_digest(ev)
        for p in paths
        for ev in read_raw_events(p)
    }


def user_bytes(paths: list[str]) -> int:
    """Bytes a user hands to ingest: the tensors plus the three int64 keys."""
    total = 0
    for p in paths:
        for ev in read_raw_events(p):
            total += 3 * 8 + sum(ev[c].nbytes for c in TENSOR_COLS)
    return total


def generate(workload: str, out_dir: str, seed: int, scale: float) -> None:
    """Entry point of the generation child process."""
    if workload == "rank_stats":
        write_tables(os.path.join(out_dir, "tables"), seed, scale)
    else:
        write_raw_events(os.path.join(out_dir, "raw"), seed, scale)
