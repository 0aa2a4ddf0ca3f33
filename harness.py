"""Measurement helpers shared by bench.py, scalecheck.py and scaleprobe.py.

One copy of each thing the three scripts measure with:

- :func:`newest_artifact` — the newest committed ``{prefix}_r{N}.json``
  below a round, unwrapped from the driver's ``{"parsed": ...}`` record;
- :func:`engine_session` and :func:`cpus` — the engine's timed-path session
  and the core count every artifact is stamped with (compare runs only at
  equal ``cpus``);
- :func:`best_of` — one isolated, timed catalog-entry run, best of N;
- :func:`adjudicate` — the one flag-and-re-run rule;
- :func:`median_ratio` — the box-noise median over common entries;
- :func:`fit_line` — the printed JSON line, fitted to the driver's tail.

Harness code, not library code: nothing under ``spark_states_spark/``
imports it.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))

# Below this many seconds a 2x swing is scheduler noise, whatever the ratio;
# it also floors a previous value so a near-zero one can't make a huge ratio.
FLOOR_S = 0.5
# A row is flagged past this growth vs its previous value (bench,
# scalecheck) or this drift either way (scaleprobe ratios). Also the
# scaleprobe linearity slack and the contaminated-bases threshold.
RATIO = 2.0
# Per-entry wall budget at sf0.1 (BASELINE.md's working target); bench only.
BUDGET_S = 5.0
# Isolated re-runs per script run, worst first. Also the fewest common
# entries a median ratio needs: with fewer, each could be re-run on its
# own, and the median measures those entries rather than the box.
RERUN_CAP = 5
# The driver keeps a 2000-char stdout tail (every BENCH_r01-r14 artifact
# stamps tail_len 2000; r04/r05, whose line was longer, never parsed). The
# line must fit in it with room for a newline and a stray shutdown WARN.
LINE_BUDGET = 1820
# Best-of-N for the bench core set and every isolated re-run (per side in
# scaleprobe). Best-of-3 damps run-to-run noise: r02's +34% swing on
# untouched queries vs r01 was the machine, not the code.
RUNS = 3


def _num(x) -> bool:
    return isinstance(x, (int, float)) and math.isfinite(x)


def newest_artifact(
    prefix: str, below_round: int = 0, root: str = ROOT
) -> tuple[int, dict] | None:
    """``(round, record)`` of the newest ``{prefix}_r{N}.json`` under
    ``root`` with ``N < below_round`` (any N when ``below_round <= 0``), so
    a script never reads the round it is writing. The driver-recorded
    artifacts wrap the printed line as ``{"n", "rc", "tail", "parsed"}``;
    the record returned is the ``parsed`` line. None when there is no such
    file or the newest one does not parse."""
    rx = re.compile(re.escape(prefix) + r"_r(\d+)\.json")
    found = [
        (int(m.group(1)), p)
        for p in glob.glob(os.path.join(root, glob.escape(prefix) + "_r*.json"))
        if (m := rx.fullmatch(os.path.basename(p)))
        and (below_round <= 0 or int(m.group(1)) < below_round)
    ]
    if not found:
        return None
    rnd, path = max(found)
    try:
        with open(path) as fh:
            rec = json.load(fh)
    except (OSError, ValueError):
        return None
    if not isinstance(rec, dict):
        return None
    return rnd, rec["parsed"] if isinstance(rec.get("parsed"), dict) else rec


def engine_session(**kwargs):
    """``build_session`` plus the engine's timed-path defaults: RocksDB
    per-put row-count tracking off (library sessions keep Spark's default,
    see session.py) and ERROR logging, so shutdown noise stays out of the
    driver's stdout tail."""
    from spark_states_spark.session import build_session

    spark = build_session(**kwargs)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false"
    )
    return spark


def cpus(spark) -> int:
    """``$SPARK_GRAFT_CPUS`` (the session's ``local[N]``), else the
    session's default parallelism."""
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.isdigit() else spark.sparkContext.defaultParallelism


def warm_up(spark, sf_dir: str) -> None:
    """Absorb session/codegen start-up and the per-process fixture
    replay-order guard before any per-entry timing. The guard is an
    integrity assertion on the fixtures, paid once per process like an
    ingest-time check; without the warm-up, whichever entry runs first
    absorbs ~4-5 s of it (agg_cube_orders: 5.9 s cold-first vs 0.6 s)."""
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    try:
        from spark_states_spark.streaming.queries import (
            _assert_event_id_ts_monotone,
        )

        _assert_event_id_ts_monotone(spark, sf_dir, scope="global")
    except AssertionError:
        raise
    except Exception:
        pass  # best-effort; entries re-run the guard if they need it


def unload_state_providers(spark) -> None:
    """Drop every loaded state-store provider and its maintenance thread.

    Each streaming drain leaves one RocksDB provider per state partition
    resident in the JVM, so by the tail of a sweep hundreds of maintenance
    threads compete with the query being timed. ``StateStore.stop()`` is
    Spark's own shutdown hook (idempotent; providers re-load lazily).
    Best-effort: it is internal API, and a miss degrades to accumulating.
    """
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass


def clear_entry_memos(name: str) -> None:
    """Release ``name``'s own lifetime tag and each shared memo it reads
    (catalog.clear_shared_memos), so its next run re-pays its own
    materialization. Only the entry's own memos: clearing every memo on
    every re-run made a shared pair's series order-dependent."""
    from spark_states_spark.catalog import clear_shared_memos

    clear_shared_memos(name)


def best_of(
    spark, name: str, sf_dir: str, action: str = "noop", runs: int = RUNS,
    keep_first_memos: bool = False,
):
    """Best-of-``runs`` seconds for one catalog entry: build plus one
    ``action`` — ``"noop"`` (JVM-side noop sink write), ``"collect"`` or
    ``"count"``. Before every run the cache is cleared, state-store
    providers are unloaded and the entry's memos are released, so a
    shared-drain carrier is timed as first touch rather than a memo read;
    ``keep_first_memos`` keeps run 1's memo state (a sweep measures the
    intended cross-entry sharing). Returns ``(seconds, df, result)`` of the
    last run."""
    from spark_states_spark.catalog import QUERIES

    best = math.inf
    for i in range(runs):
        spark.catalog.clearCache()
        unload_state_providers(spark)
        if i or not keep_first_memos:
            clear_entry_memos(name)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        if action == "noop":
            result = df.write.format("noop").mode("overwrite").save()
        else:
            result = getattr(df, action)()
        best = min(best, time.perf_counter() - t0)
    return best, df, result


def over(now, prev, swept_s=None, budget=None, two_sided=False) -> float:
    """How many times over its threshold a row is; flagged when > 1.

    Rows whose swept seconds (``now`` unless given) are under FLOOR_S are
    never flagged. One-sided: ``now / max(prev, FLOOR_S) / RATIO``;
    ``two_sided``: the drift ``max(now/prev, prev/now) / RATIO``. With a
    ``budget``, ``now / budget`` also counts."""
    swept_s = now if swept_s is None else swept_s
    if not (_num(now) and _num(swept_s)) or swept_s < FLOOR_S:
        return 0.0
    score = 0.0
    if _num(prev) and not two_sided:
        score = now / max(prev, FLOOR_S) / RATIO
    elif _num(prev) and now > 0 and prev > 0:
        score = max(now / prev, prev / now) / RATIO
    if budget:
        score = max(score, now / budget)
    return score


def adjudicate(
    now: dict, prev: dict, rerun, swept: dict | None = None,
    budget: float | None = None, two_sided: bool = False,
) -> list[dict]:
    """The one adjudication rule: flag rows by :func:`over`, then re-run
    them in isolation worst first, at most RERUN_CAP of them.

    ``rerun(name)`` returns the stamps to record (e.g. ``{"isolated_s":
    2.1}``). Returns the flagged rows worst first, each ``{entry, prev,
    swept, over}`` plus either the stamps or a ``note`` (past the cap, or
    the re-run raised). Never raises: the sweep's numbers are already
    recorded, and adjudication only annotates them."""
    swept = swept or {}
    rows = []
    for name, cur in now.items():
        score = over(cur, prev.get(name), swept.get(name), budget, two_sided)
        if score > 1.0:
            rows.append({"entry": name, "prev": prev.get(name), "swept": cur,
                         "over": round(score, 2)})
    rows.sort(key=lambda r: -r["over"])
    for i, row in enumerate(rows):
        if i >= RERUN_CAP:
            row["note"] = f"flagged, but {RERUN_CAP} worse rows took the re-run slots"
            continue
        try:
            row.update(rerun(row["entry"]))
        except Exception as exc:  # noqa: BLE001 — advisory, see docstring
            row["note"] = f"isolated re-run failed: {exc}"
    return rows


def median_ratio(now: dict, prev: dict) -> float | None:
    """Median ``now/prev`` over the entries both sides timed at or above
    FLOOR_S: the box's ambient shift, robust to the few entries that really
    changed. None with fewer than RERUN_CAP such entries."""
    ratios = [
        cur / old
        for name, cur in now.items()
        if _num(cur) and _num(old := prev.get(name))
        and cur >= FLOOR_S and old >= FLOOR_S
    ]
    if len(ratios) < RERUN_CAP:
        return None
    return round(statistics.median(ratios), 2)


def fit_line(
    record: dict, fill: dict | None = None, carried=(), budget: int = LINE_BUDGET,
) -> str:
    """``record`` as one JSON line of at most ``budget`` chars.

    With ``fill``, ``record["queries"]`` is packed from it: first each
    ``carried`` name that was timed, counted against the budget as it goes
    in (the driver's round-over-round comparator reads only these lines,
    so a name carried last round must not vanish while still timed; any
    that do not fit are named in one stderr warning), then the rest slowest
    first up to the first that does not fit. If the other keys alone
    overflow, keys are dropped from the end of ``record``, so callers put
    the most important first."""
    if fill is not None:
        packed = record["queries"] = {}
        dropped = []

        def put(name) -> bool:
            packed[name] = fill[name]
            if len(json.dumps(record)) <= budget:
                return True
            del packed[name]
            return False

        for name in carried:
            if name in fill and name not in packed and not put(name):
                dropped.append(name)
        if dropped:
            print(f"WARN: line budget {budget} dropped carried entries: "
                  + ", ".join(dropped), file=sys.stderr)
        for name in sorted(fill, key=lambda k: -fill[k]):
            if name not in packed and not put(name):
                break
    line = json.dumps(record)
    while len(line) > budget and record:
        record.popitem()
        line = json.dumps(record)
    return line
