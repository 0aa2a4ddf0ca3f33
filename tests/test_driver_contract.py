"""Guard the driver contract: __spark_entry__ shape and bench.py output.

The driver imports __spark_entry__ fresh and runs bench.py as a script;
these tests fail fast on import rot, name drift between queries() and
oracle_sql(), or a bench that stops emitting its one JSON line.
"""

import importlib.util
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
import harness  # noqa: E402


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_module_shape():
    mod = _load_entry()
    qs, os_ = mod.queries(), mod.oracle_sql()
    assert len(qs) >= 70
    assert set(os_) <= set(qs), "oracle without a matching query"
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in os_.values())


def test_bench_headline_is_well_formed():
    """Every headline entry must resolve in the catalog (a renamed entry
    would crash the official bench run), no duplicates, and the CORE
    best-of-3 tier must stay the historical comparable prefix."""
    from spark_states_spark.catalog import QUERIES

    missing = [q for q in bench.HEADLINE if q not in QUERIES]
    assert not missing, f"headline names not in catalog: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert 0 < bench.N_CORE < len(bench.HEADLINE)
    assert bench.HEADLINE[bench.N_CORE - 1] == "keyed_state_ttl_strict"
    # The comparable round-over-round series is the 98-entry historical
    # prefix (BASELINE.md's split); moving the boundary silently would
    # corrupt every prev-vs-now total the artifact reports.
    assert bench.N_PREFIX == 98
    assert bench.HEADLINE[bench.N_PREFIX] == "agg_cube_orders"


def test_bench_drain_groups_mark_carrier_and_sum():
    """VERDICT r07 #1/#2: the artifact must say which entry carried a
    shared drain and what the group sum is — with every participant
    present, the carrier is the first in run order."""
    timings = {q: 1.0 for q in bench.HEADLINE}
    groups = bench._drain_groups(timings)
    assert set(groups) == {
        "funnel", "wallclock_kv", "cc_labels", "virtual_kv", "interval_fo",
        "embedding_pairs", "minhash_pairs", "topk_exact", "topk_ann",
    }
    wc = groups["wallclock_kv"]
    assert wc["carrier"] == "keyed_state_wallclock_finite_bounds"
    assert wc["sum_s"] == 2.0
    assert groups["funnel"]["carrier"] == "streaming_funnel_stages"
    # The shared full-outer interval-join drain (r14): left_outer runs
    # first in headline order; the semi entry is catalog-only, so the
    # headline group is the three outer-family entries.
    assert groups["interval_fo"]["carrier"] == (
        "streaming_interval_join_left_outer"
    )
    assert groups["interval_fo"]["sum_s"] == 3.0
    # The virtual-clock drain's carrier is whichever participant runs
    # first in headline order — lazy_bounds sits in the r05 block, before
    # the r07 EXTENDED tail's per_query entry.
    assert groups["virtual_kv"]["carrier"] == "keyed_state_ttl_lazy_bounds"
    # The shared embedding-pair materialization (r14): the pair entry
    # runs first in headline order and carries the pipeline; keep_first
    # reads the memo.
    assert groups["embedding_pairs"]["carrier"] == "dedup_embedding_cosine"
    # The shared minhash-pair / top-k materializations (r14): each
    # pipeline's own entry runs first in headline order and carries it;
    # the CC cluster family resp. the recall evaluation read the memos.
    assert groups["minhash_pairs"]["carrier"] == "dedup_minhash_lsh_pairs"
    assert groups["topk_exact"]["carrier"] == "similarity_cosine_topk"
    assert groups["topk_ann"]["carrier"] == "similarity_lsh_ann"
    # A subset run with only one participant present records no group
    # (nothing shared to adjudicate).
    solo = bench._drain_groups({"funnel_state_scan": 1.0})
    assert "funnel" not in solo


def test_bench_regression_tripwire_floors_and_ratio():
    prev = {"a": 1.0, "b": 0.01, "c": 3.0, "d": 1.0}
    now = {"a": 2.5, "b": 0.4, "c": 3.2, "d": 1.9, "e": 9.9}
    rows = harness.adjudicate(now, prev, lambda n: {"isolated_s": 1.0})
    # a: 2.5/1.0 = 2.5x -> flagged; b: below the 0.5s floor now-side;
    # c: 1.07x; d: 1.9x < 2x; e: no previous measurement.
    assert [r["entry"] for r in rows] == ["a"]
    assert rows[0]["over"] == 1.25  # 2.5x against the 2x threshold


def test_bench_ambient_ratio_is_robust_median():
    """VERDICT r09 #2: the artifact's box-noise deflator is the MEDIAN
    per-entry ratio vs the previous full map — robust to a handful of
    genuinely-regressed tails and blind to sub-floor noise entries."""
    prev = {f"e{i}": 1.0 for i in range(10)}
    now = {f"e{i}": 1.27 for i in range(10)}
    now["e0"] = 5.0  # one real regression must not move the ambient median
    prev["tiny"], now["tiny"] = 0.05, 0.19  # both sides below the floor
    now["new_entry"] = 2.0  # no previous measurement -> not comparable
    assert harness.median_ratio(now, prev) == 1.27


def test_bench_ambient_ratio_needs_enough_common_entries():
    """A median over a handful of entries measures those entries, not the
    box: bootstrap rounds and tiny subset runs get None, and the deflated
    throughput key is simply absent."""
    prev = {f"e{i}": 1.0 for i in range(harness.RERUN_CAP - 1)}
    now = dict(prev)
    assert harness.median_ratio(now, prev) is None
    assert harness.median_ratio({}, {}) is None


def _rerun_log(value):
    reran = []
    return reran, lambda n: (reran.append(n), {"isolated_s": value})[1]


def test_bench_adjudication_rerulls_all_rows_when_few_flag():
    """Within the cap every flagged row gets isolated_s."""
    now = {f"e{i}": 3.0 for i in range(3)}
    reran, rerun = _rerun_log(1.1)
    rows = harness.adjudicate(now, {k: 1.0 for k in now}, rerun)
    assert reran == ["e0", "e1", "e2"]
    assert all(r["isolated_s"] == 1.1 and "note" not in r for r in rows)


def test_bench_budget_breach_adjudication():
    """VERDICT r11 #1: entries swept over the ~5 s budget get an isolated
    re-run even UNDER the 2x ratio, worst first; the published timing is
    min(swept, isolated) and the swept one stays in the row."""
    timings = {"fast": 1.2, "drain_a": 6.5, "drain_b": 5.5, "solo": 5.1,
               "band": 5.05}
    iso = {"drain_a": 4.1, "drain_b": 2.1, "solo": 5.3, "band": 5.2}
    reran = []
    rows = harness.adjudicate(
        timings, {"drain_b": 2.0},
        lambda n: (reran.append(n), {"isolated_s": iso[n]})[1],
        budget=harness.BUDGET_S,
    )
    # drain_b is also 2.75x its previous value, the worst row.
    assert reran == ["drain_b", "drain_a", "solo", "band"]  # fast skipped
    by = {r["entry"]: r for r in rows}
    assert by["drain_a"]["swept"] == 6.5 and by["drain_a"]["isolated_s"] == 4.1
    published = bench._published(timings, rows)
    assert published == {"fast": 1.2, "drain_a": 4.1, "drain_b": 2.1,
                         "solo": 5.1, "band": 5.05}
    assert harness.adjudicate({"fast": 1.0}, {}, None, budget=5.0) == []


def test_bench_budget_breach_adjudication_is_bounded():
    """At most RERUN_CAP isolated re-runs, worst first; the rest carry a
    lost-the-slot note and no isolated_s."""
    timings = {f"e{i}": 10.0 - i * 0.5 for i in range(8)}  # all over budget
    reran, rerun = _rerun_log(4.0)
    rows = harness.adjudicate(timings, {}, rerun, budget=harness.BUDGET_S)
    assert reran == [f"e{i}" for i in range(harness.RERUN_CAP)]
    noted = [r for r in rows if "note" in r]
    assert len(noted) == len(timings) - harness.RERUN_CAP
    assert all("re-run slots" in r["note"] for r in noted)
    assert all("isolated_s" not in r for r in noted)


def test_bench_compact_counts_survive_note_only_rows():
    """Note-only rows (past the cap, or a failed re-run) carry
    no isolated_s; they count as flagged but not adjudicated, and their
    swept timing is published unchanged."""
    timings = {f"e{i}": 10.0 - i * 0.5 for i in range(8)}
    rows = harness.adjudicate(
        timings, {}, lambda n: {"isolated_s": 6.0}, budget=harness.BUDGET_S)
    # the exact expressions main() stamps
    n_flagged = len(rows)
    n_adjudicated = sum(1 for r in rows if "note" not in r)
    assert n_adjudicated == harness.RERUN_CAP
    assert n_flagged - n_adjudicated == len(timings) - harness.RERUN_CAP
    published = bench._published(timings, rows)
    assert published["e7"] == timings["e7"] and published["e0"] == 6.0


def test_bench_prev_baseline_reads_round_artifacts():
    """_prev_bench must pick up the newest BENCH_r{N}.json round number and
    fall back to bench_result.json for totals the compact line predates."""
    prev = bench._prev_bench()
    assert prev["round"] is not None and prev["round"] >= 7
    # The repo carries a committed full map, so totals must resolve.
    assert prev["core_total"] and prev["prefix_total"]
    assert prev["prefix_total"] >= prev["core_total"]


def test_bench_prev_baseline_prefers_round_artifact_totals(tmp_path):
    """Once the compact line carries totals (r08+), the per-round artifact
    outranks the re-run-overwritable full map; a full-coverage local map
    still supplies the per-entry queries for the tripwire."""
    full_map = {name: 1.0 for name in bench.HEADLINE}
    (tmp_path / "bench_result.json").write_text(json.dumps({
        "queries": full_map
    }))
    (tmp_path / "BENCH_r08.json").write_text(json.dumps({
        "core_total": 41.5, "prefix_total": 119.25
    }))
    (tmp_path / "BENCH_r07.json").write_text(json.dumps({}))
    prev = bench._prev_bench(str(tmp_path))
    assert prev["round"] == 8
    assert prev["core_total"] == 41.5
    assert prev["prefix_total"] == 119.25
    assert prev["source"] == "BENCH_r08.json"
    assert prev["queries"] == full_map
    # Missing everything degrades cleanly.
    empty = bench._prev_bench(str(tmp_path / "nope"))
    assert empty["round"] is None and empty["queries"] == {}


def test_bench_prev_baseline_rejects_dev_subset_leftover(tmp_path):
    """A tiny map left behind by a SPARK_GRAFT_BENCH_QUERIES dev run must
    NOT become the baseline (r14: a 4-entry A/B leftover silently disabled
    the ambient deflator and the tripwire for the next full run) — the
    per-round artifact's slowest-8 takes over as the partial baseline."""
    (tmp_path / "bench_result.json").write_text(json.dumps({
        "queries": {"q1_pricing_summary": 1.0, "keyed_state_ttl_strict": 2.0}
    }))
    (tmp_path / "BENCH_r08.json").write_text(json.dumps({
        "n": 8, "rc": 0, "parsed": {
            "core_total": 41.266, "prefix_total": 174.401,
            "queries": {"streaming_topk_per_day": 14.902},
        },
    }))
    prev = bench._prev_bench(str(tmp_path))
    assert prev["core_total"] == 41.266
    assert prev["source"] == "BENCH_r08.json"
    # The 2-entry leftover is discarded; the artifact's compact slowest-8
    # is the (partial) tripwire baseline instead.
    assert prev["queries"] == {"streaming_topk_per_day": 14.902}


def test_bench_prev_baseline_reads_driver_wrapper(tmp_path):
    """A fresh checkout carries ONLY the driver-recorded BENCH_r{N}.json,
    which wraps the compact line under "parsed" (bench_result.json is
    gitignored) — the baseline must resolve totals from the wrapper and use
    its slowest-8 queries map as a PARTIAL tripwire baseline."""
    (tmp_path / "BENCH_r08.json").write_text(json.dumps({
        "n": 8, "rc": 0, "tail": "...",
        "parsed": {
            "core_total": 41.266, "prefix_total": 174.401,
            "queries": {"streaming_topk_per_day": 14.902},
        },
    }))
    prev = bench._prev_bench(str(tmp_path))
    assert prev["round"] == 8
    assert prev["core_total"] == 41.266
    assert prev["prefix_total"] == 174.401
    assert prev["queries"] == {"streaming_topk_per_day": 14.902}


def test_bench_prev_baseline_reads_committed_full_artifact(tmp_path):
    """r15 (VERDICT r14 #1): with no local bench_result.json, the newest
    committed BENCH_FULL_r{N}.json supplies the full per-entry baseline —
    the ambient deflator and the tripwire must not be starved down to the
    compact line's packed map on a fresh checkout."""
    full_map = {name: 1.0 for name in bench.HEADLINE}
    (tmp_path / "BENCH_FULL_r14.json").write_text(json.dumps({
        "queries": full_map
    }))
    (tmp_path / "BENCH_r14.json").write_text(json.dumps({
        "n": 14, "rc": 0, "parsed": {
            "core_total": 41.266, "prefix_total": 174.401,
            "queries": {"streaming_topk_per_day": 14.902},
        },
    }))
    prev = bench._prev_bench(str(tmp_path))
    assert prev["queries"] == full_map
    # Per-round artifact still outranks for the totals once it has them.
    assert prev["core_total"] == 41.266
    # The packer's keep-carrying contract reads the COMPACT line's names.
    assert prev["compact_names"] == ["streaming_topk_per_day"]
    # A subset BENCH_FULL (pathological) is rejected like a subset local map.
    (tmp_path / "BENCH_FULL_r15.json").write_text(json.dumps({
        "queries": {"q1_pricing_summary": 1.0}
    }))
    prev = bench._prev_bench(str(tmp_path))
    assert prev["queries"] == {"streaming_topk_per_day": 14.902}


def test_bench_compact_query_packer_keeps_prev_names_and_budget():
    """The packed map must (a) carry every entry the
    previous compact line had, (b) then fill slowest-first, (c) never
    exceed the line budget."""
    timings = {f"entry_{i:03d}": float(i) for i in range(120)}
    compact = {"metric": "headline_total", "value": 1.0}
    prev_names = ["entry_001", "entry_002", "missing_entry"]
    line = harness.fit_line(compact, timings, prev_names, budget=400)
    assert len(line) <= 400 and json.loads(line) == compact
    # Guaranteed names (that were timed) are present despite being fast.
    assert "entry_001" in compact["queries"]
    assert "entry_002" in compact["queries"]
    assert "missing_entry" not in compact["queries"]
    # The rest of the space went to the slowest entries.
    assert "entry_119" in compact["queries"]
    assert len(compact["queries"]) > 3


def test_entry_returns_rows(spark, sf_dir_small):
    mod = _load_entry()
    df = mod.entry(spark)
    assert len(df.collect()) > 0


def test_bench_emits_json_line(tmp_path):
    # Route the subprocess's artifact to a tmp path (VERDICT r05 #2): the
    # default bench_result.json is the round's official loss-proofing
    # artifact and a pytest run after the real bench must not clobber it.
    bench_out = tmp_path / "bench_result.json"
    official = os.path.join(REPO, "bench_result.json")
    before = open(official, "rb").read() if os.path.exists(official) else None
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_QUERIES="q6_forecast_revenue,dedup_exact_keep_first",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_OUT=str(bench_out),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = out.stdout.strip().splitlines()[-1]
    # The printed line is the driver's bounded-tail capture target (a
    # measured 2000-char tail; harness.LINE_BUDGET leaves slack for trailing
    # shutdown noise).
    assert len(line) <= harness.LINE_BUDGET
    payload = json.loads(line)
    assert payload["metric"] == "headline_total"
    assert payload["unit"] == "sec"
    assert payload["value"] > 0
    assert payload["n_queries"] == 2
    assert set(payload["queries"]) == {"q6_forecast_revenue", "dedup_exact_keep_first"}
    # Self-adjudication keys (VERDICT r07 #1/#2) ride the compact line so
    # the driver-recorded BENCH artifact carries them.
    for key in ("core_total", "prefix_total", "prev_core_total",
                "prev_prefix_total", "drain_sums", "n_regressions",
                "n_flagged", "n_adjudicated"):
        assert key in payload, f"compact line lost {key}"
    assert payload["cpus"] == 4
    # The FULL per-query map lands in the file.
    full = json.loads(bench_out.read_text())
    assert set(full["queries"]) == {"q6_forecast_revenue", "dedup_exact_keep_first"}
    assert full["value"] == payload["value"] and full["cpus"] == 4
    # And the official artifact is bit-identical to before the run.
    after = open(official, "rb").read() if os.path.exists(official) else None
    assert after == before, "bench run clobbered the official bench_result.json"
