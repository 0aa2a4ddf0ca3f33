"""Independent expected results for the benchmark's correctness checks.

These are written from the workload definitions, not from the package's
code, so a wrong answer from the engine cannot also be the expected one.
"""

from __future__ import annotations

import pyarrow as pa


def kv_expected(tables: list[pa.Table], ttl_s: int) -> list[tuple]:
    """Get outcomes of a strict, expire-after-access TTL key-value store,
    replayed per key in (ts_s, seq) order over the whole op stream.

    Returns sorted (key, ts_s, found, value) tuples; value is None on a
    miss. Strict expiry is observed on read, so the outcome does not depend
    on how the time-ordered files are cut into micro-batches.
    """
    ops = pa.concat_tables(tables).to_pylist()
    ops.sort(key=lambda r: (r["ts_s"], r["seq"]))
    live: dict[str, tuple[int, int]] = {}  # key → (value, last access)
    out = []
    for r in ops:
        key, now = r["key"], r["ts_s"]
        if r["op"] == "put":
            live[key] = (r["value"], now)
        elif r["op"] == "remove":
            live.pop(key, None)
        else:
            hit = live.get(key)
            if hit is not None and now - hit[1] < ttl_s:
                live[key] = (hit[0], now)
                out.append((key, now, True, hit[0]))
            else:
                live.pop(key, None)
                out.append((key, now, False, None))
    return sorted(out, key=_sort_key)


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, v) for v in row)


def sorted_rows(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=_sort_key)

