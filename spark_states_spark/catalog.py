"""Query/operator catalog — the registry behind ``__spark_entry__``.

Each operator module registers its public queries here with an optional
DuckDB oracle SQL string. ``QUERIES[name](spark, sf_dir) -> DataFrame``;
``ORACLES[name]`` is ANSI SQL over the pre-registered DuckDB views
(region nation customer supplier part orders lineitem events documents
embeddings). Queries without an oracle get the driver's weaker rows-only
check (used for genuinely non-SQL-expressible stateful ops).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import lifetime

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and its oracle SQL) to the catalog. The
    entry runs under ``lifetime.scope(name)``: what it pins lives until
    ``lifetime.release(spark, name)`` (clear_shared_memos below)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def entry(*args, **kwargs):
            with lifetime.scope(name):
                return fn(*args, **kwargs)

        QUERIES[name] = entry
        if oracle is not None:
            ORACLES[name] = oracle
        return entry

    return deco


# Shared materializations: lifetime tag -> the entries that read it. Some
# entries deliberately share one expensive materialization (the funnel
# pair's single drain, the dual-binding wall-clock drain, the CC-label
# reuse between clustering and keep-best), built once per (application,
# fixture generation) through ``lifetime.shared``. Modules declare their
# tags here at import time. The harness's best-of-N re-runs
# (harness.best_of, used by bench.py, scalecheck.py and scaleprobe.py)
# release a tag only for a PARTICIPATING entry, so a shared-result entry
# re-pays its own materialization without other entries' re-runs wiping
# the share. A tag left out of this map (the restart entry's phase-1
# staging, ``restart_phase1``) is never released by a per-entry clear.
SHARED_MEMOS: dict[str, set[str]] = {}


def clear_shared_memos(entry: str) -> None:
    """Release ``entry``'s own lifetime tag, then each shared tag it
    participates in, so the next call re-materializes."""
    lifetime.release(None, entry)
    for tag, entries in SHARED_MEMOS.items():
        if entry in entries:
            lifetime.release(None, tag)


# Import operator modules for their registration side effects.
#
# Registration order is the tie-break of the verification order below and
# nothing else. The authoritative gate is local and order-independent: every
# entry with an oracle is verified against DuckDB each test run
# (tests/test_oracle.py), whatever order they register in.
from .operators import relational  # noqa: E402,F401
from .functions import multimodal  # noqa: E402,F401
from .functions import dedup  # noqa: E402,F401
from .streaming import queries as streaming_queries  # noqa: E402,F401
from .streaming import inspect as streaming_inspect  # noqa: E402,F401
from .functions import similarity  # noqa: E402,F401
from .functions import text  # noqa: E402,F401
from .functions import pipeline  # noqa: E402,F401
from .operators import sessionize  # noqa: E402,F401
from .operators import scalars  # noqa: E402,F401
from .operators import asof  # noqa: E402,F401
from .operators import windows  # noqa: E402,F401
from .operators import setops  # noqa: E402,F401
from .operators import timeseries  # noqa: E402,F401
from .sources import bucketing  # noqa: E402,F401
from .sources import partitioned  # noqa: E402,F401
from .sources import compaction  # noqa: E402,F401
from .sources import zorder  # noqa: E402,F401
from .operators import quality  # noqa: E402,F401
from .functions import sketches  # noqa: E402,F401
from .operators import behavior  # noqa: E402,F401
from .operators import orderstats  # noqa: E402,F401
from .operators import graph  # noqa: E402,F401
from .operators import rangejoin  # noqa: E402,F401
from .operators import skyline  # noqa: E402,F401

# --- Verification order ------------------------------------------------------
#
# The external driver samples a bounded prefix of ``queries()``, so the order
# is computed from the CORRECTNESS_r{N}.json verdict history at the repo root
# by one rule: entries never externally green first, then the oldest green
# round first, with registration order breaking ties. Without history files
# (driver sandbox, fresh clone) the order is plain registration order. Run
# ``python -m spark_states_spark.catalog`` to write the freshness table to
# VERIFY_ORDER.md.

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _verdict_green(rec: dict) -> bool:
    """A driver verdict row counts as green iff it value-matched the oracle
    (or, for rows-only entries, ran to a row count without error)."""
    if not isinstance(rec, dict):
        return False
    if rec.get("err") == "no_oracle":
        return rec.get("spark_rows") is not None
    return bool(
        rec.get("err") is None
        and rec.get("rows_match")
        and rec.get("schema_match")
        and rec.get("hash_match")
    )


def last_green_round(root: str = _ROOT) -> dict[str, int]:
    """Entry -> newest round number with a fully-green driver verdict."""
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, rec in data.items():
            if _verdict_green(rec):
                out[name] = max(out.get(name, 0), rnd)
    return out


def verification_order(greens: dict[str, int] | None = None) -> list[str]:
    """All catalog entries, highest verification priority first.

    ``greens`` (entry -> newest green round) defaults to
    ``last_green_round()``; history names not in the registry are ignored.
    """
    greens = last_green_round() if greens is None else greens
    # sorted() is stable: equal keys keep registration order.
    return sorted(QUERIES, key=lambda n: (n in greens, greens.get(n, 0)))


def ordered_queries() -> dict[str, QueryFn]:
    """QUERIES in verification-priority order.

    Computed lazily (NOT at import time): when a registering module is the
    first import, its ``from ..catalog import register`` re-enters this
    module while the importing module is still partially initialized, so an
    import-time reorder would see an incomplete registry and fail.
    ``__spark_entry__.queries()`` calls this after all registrations exist.
    """
    return {n: QUERIES[n] for n in verification_order()}


def freshness_table() -> str:
    """Markdown freshness report: one row per entry with its status."""
    greens = last_green_round()
    order = verification_order(greens)
    newest = max(greens.values(), default=0)
    rows = ["| # | entry | last green | status |", "|---|---|---|---|"]
    for i, name in enumerate(order, 1):
        if name not in greens:
            status = "NEVER-VERIFIED"
            last = "—"
        else:
            last = f"r{greens[name]:02d}"
            status = "stale" if greens[name] < newest - 1 else "fresh"
        rows.append(f"| {i} | {name} | {last} | {status} |")
    n_never = sum(1 for n in order if n not in greens)
    head = (
        "# VERIFY_ORDER — computed driver-sampling priority\n\n"
        "Generated by `python -m spark_states_spark.catalog` from the\n"
        "CORRECTNESS_r*.json history (see catalog.py): never-verified first,\n"
        "then oldest green round, registration order breaking ties. The\n"
        "driver samples the first ~50 rows.\n\n"
        f"Entries: {len(order)} · never-verified: {n_never} · "
        f"newest verdict round: r{newest:02d}\n\n"
    )
    return head + "\n".join(rows) + "\n"


if __name__ == "__main__":
    # `python -m` runs this file as __main__ while the registering modules
    # import the canonical `spark_states_spark.catalog` instance — delegate
    # to that instance or the __main__ copy sees an empty registry.
    from spark_states_spark import catalog as _canonical

    out = os.path.join(_ROOT, "VERIFY_ORDER.md")
    with open(out, "w") as fh:
        fh.write(_canonical.freshness_table())
    print(f"wrote {out}")
    greens = _canonical.last_green_round()
    print(f"{len(_canonical.QUERIES)} entries; never-verified: "
          f"{sorted(n for n in _canonical.QUERIES if n not in greens)}")
