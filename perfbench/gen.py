"""Seeded input generators for the benchmark workloads.

Every generator takes its seed as an argument and writes parquet files; the
package under test only ever sees those files. Streaming inputs are written
one file per micro-batch with strictly increasing mtimes, so the file source
(which orders new files by modification time) replays them in order.

``batch_catalog`` tables are generated at the fixed seed ``CATALOG_SEED``
(42, the seed of the repository's test fixtures) whatever ``--seed`` says:
that workload measures the catalog over one fixed input, so its spread is
the engine's, not the data's. The tables are generated rather than read
from the repository's sf0.1 fixture because the benchmark reads only files
inside its own checkout; ``CatalogSpec`` gives them the fixture's row
counts and shapes, so each entry scales as it does on sf0.1.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SEED = 42

# Start of the catalog's event times.
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


@dataclass(frozen=True)
class KvSpec:
    files: int = 4
    ops_per_file: int = 1_000
    n_keys: int = 5_000
    zipf_s: float = 1.1
    put_share: float = 0.45
    get_share: float = 0.50  # the rest are removes
    file_span_s: int = 20
    ttl_s: int = 30


def zipf_ranks(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    """``size`` draws from ranks ``0..n-1`` with P(rank k) ∝ 1 / (k + 1)^s."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return rng.choice(n, size=size, p=w / w.sum())


def _write(table: pa.Table, path: str, mtime: float | None = None) -> None:
    pq.write_table(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def write_batches(tables: list[pa.Table], out_dir: str) -> list[str]:
    """One file per micro-batch, mtimes one second apart in file order."""
    os.makedirs(out_dir, exist_ok=True)
    base = 1_600_000_000.0
    paths = []
    for i, t in enumerate(tables):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        _write(t, p, base + i)
        paths.append(p)
    return paths


def kv_tables(seed: int, spec: KvSpec = KvSpec()) -> list[pa.Table]:
    """The ``kv_ttl`` input: a put/get/remove op stream on a virtual clock,
    one table per micro-batch, ``ts_s`` non-decreasing across files and
    ``seq`` globally increasing."""
    rng = np.random.default_rng(seed)
    key_names = np.array([f"k{k:05d}" for k in range(spec.n_keys)])
    op_names = np.array(["put", "get", "remove"])
    mix = [spec.put_share, spec.get_share, 1.0 - spec.put_share - spec.get_share]
    n = spec.ops_per_file
    tables = []
    for i in range(spec.files):
        ts = np.sort(rng.integers(0, spec.file_span_s, n)) + i * spec.file_span_s
        tables.append(
            pa.table(
                {
                    "key": pa.array(
                        key_names[zipf_ranks(rng, spec.n_keys, n, spec.zipf_s)]
                    ),
                    "op": pa.array(op_names[rng.choice(3, size=n, p=mix)]),
                    "value": pa.array(rng.integers(0, 1_000_000, n), pa.int64()),
                    "ts_s": pa.array(ts, pa.int64()),
                    "seq": pa.array(np.arange(i * n, (i + 1) * n), pa.int64()),
                }
            )
        )
    return tables


# --- batch_catalog tables ---------------------------------------------------

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_WORDS = np.array(
    "a the data row key value table query join scan sort merge hash agg group "
    "window stream batch spark order line part customer filter column fast "
    "slow big small index cache plan state store commit version offset".split()
)
_DAY_US = 86_400_000_000
_DATE0_US = 694_224_000_000_000  # 1992-01-01


@dataclass(frozen=True)
class CatalogSpec:
    """Row counts of the sf0.1 fixture: 15 K customers, 150 K orders of 1–7
    lines (about 600 K lineitem rows), 5 K documents of 20–80 words, 100 K
    events over 5 types and 1.5 K users."""

    customers: int = 15_000
    orders: int = 150_000
    documents: int = 5_000
    near_dup_share: float = 0.2
    events: int = 100_000
    event_types: int = 5
    users: int = 1_500


def catalog_tables(spec: CatalogSpec = CatalogSpec()) -> dict[str, pa.Table]:
    """A TPC-H-like star (customer, orders, lineitem), a ``documents``
    corpus with near-duplicates and an ``events`` table, in the schemas of
    the repository's test fixtures."""
    rng = np.random.default_rng(CATALOG_SEED)
    nc, no = spec.customers, spec.orders
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(rng.integers(-99_999, 999_999, nc) / 100.0),
            "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, nc)]),
        }
    )
    order_day = rng.integers(0, 3_650, no)
    lines = rng.integers(1, 8, no)
    ok = np.repeat(np.arange(no), lines)
    nl = len(ok)
    linenumber = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    price = rng.integers(90_000, 10_500_000, nl) / 100.0
    ship_day = order_day[ok] + rng.integers(1, 122, nl)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(ok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2_000, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, nl), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
            "l_shipdate": pa.array(_DATE0_US + ship_day * _DAY_US, pa.timestamp("us")),
        }
    )
    totals = np.bincount(ok, weights=price * 100, minlength=no).round() / 100.0
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
            "o_totalprice": pa.array(totals),
            "o_orderdate": pa.array(_DATE0_US + order_day * _DAY_US, pa.timestamp("us")),
            "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, no)]),
        }
    )
    texts: list[str] = []
    for d in range(spec.documents):
        if texts and rng.random() < spec.near_dup_share:
            words = texts[rng.integers(0, len(texts))].split()
            edits = rng.integers(0, len(words), max(1, len(words) // 20))
            for e in edits:
                words[e] = _WORDS[rng.integers(0, len(_WORDS))]
        else:
            words = list(_WORDS[rng.integers(0, len(_WORDS), rng.integers(20, 80))])
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(spec.documents), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(["en", "de", "fr"])[rng.integers(0, 3, spec.documents)]),
            "source": pa.array([f"src{k % 7}" for k in range(spec.documents)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    ne = spec.events
    ev_types = np.array([f"type{k}" for k in range(spec.event_types)])
    events = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            # Naive microseconds, as in the repository's events fixture.
            "ts": pa.array(
                EPOCH_US + rng.integers(0, 30 * _DAY_US, ne), pa.timestamp("us")
            ),
            "user_id": pa.array(rng.integers(0, spec.users, ne), pa.int64()),
            "event_type": pa.array(ev_types[zipf_ranks(rng, spec.event_types, ne, 1.1)]),
            "value": pa.array(rng.integers(1, 100_000, ne) / 100.0),
            "props": pa.array([None] * ne, pa.string()),
        }
    )
    return {
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "documents": documents,
        "events": events,
    }


def write_catalog(out_dir: str, spec: CatalogSpec = CatalogSpec()) -> dict[str, int]:
    """Write the catalog tables as ``<out_dir>/<name>.parquet``; return
    their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in catalog_tables(spec).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
