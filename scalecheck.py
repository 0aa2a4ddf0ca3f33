#!/usr/bin/env python
"""Scale-up differential gate (VERDICT r04 #6): the full catalog's oracle
check at sf0.1 — 10× the driver's correctness scale — recorded per round as
SCALECHECK_r{N}.json so scale regressions in new entries (decimal overflow,
candidate explosion, rank-boundary drift) surface the round they land.

Usage: python scalecheck.py [round_number]   (writes SCALECHECK_r{NN}.json)

Same compare as tests/test_oracle.py::test_oracle_differential_sf01 — this
script exists so the gate leaves a per-round artifact instead of only a
transient pytest pass. Two side artifacts (VERDICT r06 #5-6):

- the per-entry ``entry_spark_s`` series is adjudicated against the
  previous round's artifact (harness.adjudicate: >2x growth is re-run
  isolated) and WARNED — never failed: wall seconds on a shared box are
  advisory; correctness rows are the gate;
- PARITY.md's scale-up paragraph is regenerated from the artifact at write
  time, between PARITY_MARK markers, so the doc cannot cite a stale round
  (two consecutive rounds of that staleness class — VERDICT r05 #5/r06 #1).
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from spark_states_spark.catalog import ORACLES, QUERIES  # noqa: E402
from tests.oracle_utils import compare, duckdb_con  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SCALECHECK_DIR", "/root/testdata/sf0.1")
PARITY_MARK = ("<!-- scalecheck:begin -->", "<!-- scalecheck:end -->")


def parity_paragraph(result: dict, rnd: int) -> str:
    """The PARITY.md scale-up note, generated from the artifact it cites."""
    today = datetime.date.today().isoformat()
    status = (
        "all green" if not result["failures"]
        else f"{len(result['failures'])} FAILURES"
    )
    return (
        "Scale-up differential: beyond the driver's sf0.01 gate, the ENTIRE "
        f"catalog\n({result['n_entries']} entries — every oracle-paired "
        "entry plus the rows-only stateful\nlifecycles) was "
        "value-hash-verified against DuckDB at **sf0.1** — 10× the\n"
        f"correctness scale — {status} (`SCALECHECK_r{rnd:02d}.json`, "
        f"{today}, {result['elapsed_s']:,.0f} s\non local[{result['cpus']}]); repeatable "
        "via `python scalecheck.py` or\n"
        "`SPARK_GRAFT_SF01_DIFF=1 python -m pytest tests/test_oracle.py -k sf01`."
    )


def refresh_parity_note(result: dict, rnd: int, root: str = harness.ROOT) -> bool:
    """Rewrite PARITY.md's marker-delimited scale-up paragraph in place.

    Returns True if the file was updated; False (best-effort, never raises)
    when the file or markers are missing — the artifact is the ground truth
    either way."""
    path = os.path.join(root, "PARITY.md")
    try:
        with open(path) as fh:
            text = fh.read()
    except OSError:
        return False
    begin, end = PARITY_MARK
    if begin not in text or end not in text:
        return False
    head, rest = text.split(begin, 1)
    _, tail = rest.split(end, 1)
    new = f"{head}{begin}\n{parity_paragraph(result, rnd)}\n{end}{tail}"
    if new != text:
        with open(path, "w") as fh:
            fh.write(new)
    return True


def main() -> int:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    spark = harness.engine_session()
    con = duckdb_con(SF_DIR)
    # Content-keyed DuckDB-result cache (VERDICT r10 #5): the oracle side
    # was ~1/3 of the 309 s gate and grows with the catalog; the cache key
    # is (duckdb version, every-table fixture identity, oracle SQL), so a
    # regenerated fixture or an edited oracle recomputes and ONLY a
    # bit-identical re-ask is served from disk. Spark-side execution and
    # the value/schema compare are unaffected. Disable (cold run) with
    # SPARK_GRAFT_NO_ORACLE_CACHE=1 or by deleting .oracle_cache/.
    from tests.oracle_utils import fixture_identity

    oracle_cache = None
    if not os.environ.get("SPARK_GRAFT_NO_ORACLE_CACHE"):
        try:
            oracle_cache = (
                os.path.join(harness.ROOT, ".oracle_cache"),
                fixture_identity(SF_DIR),
            )
        except OSError as exc:
            print(f"WARN: oracle cache disabled ({exc})")
    # Every COMPLETED compare (an entry whose compare raised counts
    # neither): the reader of elapsed_s needs to know whether the DuckDB
    # side was recomputed or served from the cache.
    cache = {"hits": 0, "misses": 0}
    failures: dict[str, str] = {}
    t0 = time.time()
    # Without the warm-up, session/codegen start-up lands on whichever
    # entry sorts FIRST, corrupting the per-entry series.
    harness.warm_up(spark, SF_DIR)

    entry_s: dict[str, float] = {}
    entry_spark_s: dict[str, float] = {}
    for i, name in enumerate(sorted(ORACLES), 1):
        harness.unload_state_providers(spark)
        te = time.perf_counter()
        tm: dict = {}
        try:
            # Build timed separately from compare's collect, which compare()
            # ADDS to spark_s: iterative entries (connected components'
            # pointer jumping) execute eagerly inside the build via
            # localCheckpoint.
            df = QUERIES[name](spark, SF_DIR)
            tm["spark_s"] = time.perf_counter() - te
            problems = compare(df, con, ORACLES[name], timings=tm,
                               oracle_cache=oracle_cache, overlap=True)
            cache["hits" if tm.get("oracle_cached") else "misses"] += 1
            if problems:
                failures[name] = "; ".join(problems)
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            failures[name] = f"error: {exc}"
        # Coarse per-entry wall seconds incl. the DuckDB oracle; spark_s is
        # the engine's own series for the entries outside the bench
        # headline. NOT comparable to bench.py's best-of-N noop-sink numbers.
        entry_s[name] = round(time.perf_counter() - te, 2)
        if "spark_s" in tm:
            entry_spark_s[name] = round(tm["spark_s"], 2)
        status = "FAIL" if name in failures else "ok"
        print(f"[{i}/{len(ORACLES)}] {name}: {status} {entry_s[name]}s", flush=True)
    found = harness.newest_artifact("SCALECHECK", rnd)
    prev_s = found[1].get("entry_spark_s", {}) if found else {}
    rows = harness.adjudicate(entry_spark_s, prev_s, lambda q: {
        "isolated_s": round(harness.best_of(spark, q, SF_DIR, "collect")[0], 2)})
    # Key order is priority order for the printed line (see fit_line).
    result = {
        "n_entries": len(ORACLES),
        "n_pass": len(ORACLES) - len(failures),
        "n_flagged": len(rows),
        "n_adjudicated": sum(1 for r in rows if "note" not in r),
        "ambient_ratio": harness.median_ratio(entry_spark_s, prev_s),
        "cpus": harness.cpus(spark),
        "oracle_cache": cache,
        "prev_round": found[0] if found else None,
        "elapsed_s": round(time.time() - t0, 1),
        "sf_dir": SF_DIR,
        "failures": failures,
        "entry_wall_s_incl_oracle": dict(sorted(entry_s.items())),
        "entry_spark_s": dict(sorted(entry_spark_s.items())),
        "adjudication": rows,
    }
    out = os.path.join(
        harness.ROOT, f"SCALECHECK_r{rnd:02d}.json" if rnd else "SCALECHECK.json"
    )
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1)
    con.close()
    spark.stop()
    if rows:
        print(f"WARN: {len(rows)} entries regressed >2x vs r{found[0]:02d} "
              "(spark seconds; isolated re-run or note):")
        for r in rows:
            print(f"  {r['entry']:45s} {r['prev']:8.2f} -> {r['swept']:8.2f} "
                  f"{r.get('isolated_s', r.get('note'))}")
    if rnd and refresh_parity_note(result, rnd):
        print("refreshed PARITY.md scale-up note")
    print(f"wrote {out}; failures: {sorted(failures)}")
    print(harness.fit_line({k: v for k, v in result.items() if k not in (
        "failures", "entry_wall_s_incl_oracle", "entry_spark_s", "adjudication")}))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
