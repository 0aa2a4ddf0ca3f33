"""scaleprobe.py infrastructure checks (VERDICT r07 #6): the probe's entry
list must resolve in the catalog, the scaled-fixture construction must
preserve the contracts the probed entries assert (replay-order global
monotonicity, key-cardinality scaling, zero cross-copy shingle sharing),
and the plan fingerprint must be invariant to ids/literals but sensitive
to operator-shape changes."""

import os
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import harness  # noqa: E402
import scaleprobe  # noqa: E402


def test_probe_entries_resolve():
    from spark_states_spark.catalog import QUERIES

    missing = [q for q in scaleprobe.PROBE_ENTRIES if q not in QUERIES]
    assert not missing
    assert len(set(scaleprobe.PROBE_ENTRIES)) == len(scaleprobe.PROBE_ENTRIES)
    # VERDICT r08 #2: the vector/similarity family must hold probe slots.
    assert {
        "similarity_cosine_topk", "similarity_lsh_ann", "similarity_ivf_ann",
        "dedup_embedding_cosine",
    } <= set(scaleprobe.PROBE_ENTRIES)
    assert scaleprobe.SEMANTIC_OUTPUT_ENTRIES <= set(scaleprobe.PROBE_ENTRIES)
    # The demoted grouped-Pandas spelling stays out (VERDICT r08 #2/#4);
    # its JVM sibling carries the gap-median shape's decade coverage.
    assert "user_gap_median" not in scaleprobe.PROBE_ENTRIES
    assert "user_gap_median_builtin" in scaleprobe.PROBE_ENTRIES


def test_plan_fingerprint_ignores_ids_but_sees_shape(spark):
    a = spark.range(100).filter(F.col("id") > 5).groupBy().count()
    b = spark.range(200).filter(F.col("id") > 99).groupBy().count()
    assert scaleprobe.plan_fingerprint(a) == scaleprobe.plan_fingerprint(b)
    c = spark.range(100).groupBy().count()  # no Filter node
    assert scaleprobe.plan_fingerprint(a) != scaleprobe.plan_fingerprint(c)
    assert "Filter" in scaleprobe.plan_fingerprint(a)


def test_plan_delta_classifier():
    same = "FileScan>Filter>HashAggregate"
    flip = "FileScan>Filter>Exchange>Sort>SortMergeJoin>HashAggregate"
    base = "FileScan>Filter>BroadcastExchange>BroadcastHashJoin>HashAggregate"
    structural = "FileScan>HashAggregate"  # Filter vanished
    assert scaleprobe.plan_delta_kind(same, same) == "same"
    assert scaleprobe.plan_delta_kind(base, flip) == "join_strategy"
    assert scaleprobe.plan_delta_kind(same, structural) == "structural"
    # A documented adaptive-tier entry's delta is labeled, not alarmed.
    assert (
        scaleprobe.plan_delta_kind(base, structural, "dedup_minhash_lsh_pairs")
        == "adaptive_tier"
    )
    assert set(scaleprobe.ADAPTIVE_PLAN_ENTRIES) <= set(scaleprobe.PROBE_ENTRIES)


def test_scaled_fixtures_preserve_contracts(spark, sf_dir_small, tmp_path):
    """Build a 3x replica of the SMALL fixtures and check the invariants the
    10x probe run relies on (same construction code, cheaper scale)."""
    out = str(tmp_path / "scaled")
    scaleprobe.build_scaled_dir(spark, sf_dir_small, out, 3)

    from spark_states_spark.sources.tables import load_table
    from spark_states_spark.streaming.queries import _assert_event_id_ts_monotone

    base_ev = load_table(spark, sf_dir_small, "events")
    ev = load_table(spark, out, "events")
    assert ev.count() == 3 * base_ev.count()
    # Key cardinality scales with the factor (state-store pressure is real).
    assert (
        ev.select("user_id").distinct().count()
        == 3 * base_ev.select("user_id").distinct().count()
    )
    # The replay-order contract the streaming entries assert must hold on
    # the synthetic fixture at GLOBAL scope (the strongest the guard has).
    _assert_event_id_ts_monotone(spark, out, scope="global")

    # Documents: per-copy token rename is bijective — each copy's shingle
    # sets are isomorphic (intra-copy pair structure replicated exactly)
    # and share nothing across copies.
    docs = load_table(spark, out, "documents")
    base_docs = load_table(spark, sf_dir_small, "documents")
    assert docs.count() == 3 * base_docs.count()
    from spark_states_spark.functions.dedup import dedup_minhash_lsh_pairs

    base_pairs = dedup_minhash_lsh_pairs(spark, sf_dir_small).count()
    scaled = dedup_minhash_lsh_pairs(spark, out)
    d_stride = base_docs.agg(F.max("doc_id")).collect()[0][0] + 1
    # THE construction invariant: every pair is copy-local (zero fabricated
    # cross-copy near-dups). Counts are only ~3x, not exactly: the token
    # rename changes shingle hashes, so the 16-perm est_jaccard estimate of
    # each pair's unchanged true Jaccard re-rolls per copy around the
    # threshold.
    cross = scaled.filter(
        (F.col("doc_a") / d_stride).cast("long")
        != (F.col("doc_b") / d_stride).cast("long")
    ).count()
    assert cross == 0
    assert scaled.count() >= base_pairs  # every copy contributes structure

    li = load_table(spark, out, "lineitem")
    assert li.count() == 3 * load_table(spark, sf_dir_small, "lineitem").count()

    # Embeddings: per-copy sign flips are an exact isometry (intra-copy
    # cosines unchanged); cross-copy cosines collapse toward 0 but their
    # TAIL still crosses low thresholds — which is why the near-dup entry
    # is probed against an OUTPUT-growth-aware basis (r09,
    # SEMANTIC_OUTPUT_ENTRIES). The probed top-k entries' contract: the
    # query set is the bounded copy-0 prefix, so the OUTPUT is
    # factor-independent while the scanned corpus grows.
    emb = load_table(spark, out, "embeddings")
    base_emb = load_table(spark, sf_dir_small, "embeddings")
    assert emb.count() == 3 * base_emb.count()
    from spark_states_spark.functions.similarity import similarity_cosine_topk

    base_topk = similarity_cosine_topk(spark, sf_dir_small).count()
    assert similarity_cosine_topk(spark, out).count() == base_topk


def test_probe_base_sanity_flags_contaminated_runs():
    """r10 lesson codified: a 1x pass that ran during heavy ambient IO
    inflates every base and UNDERSTATES ratios — the probe must adjudicate
    its own bases against the previous round's."""
    prev = {f"e{i}": 1.0 for i in range(6)}
    clean = {f"e{i}": 1.1 for i in range(6)}
    dirty = {f"e{i}": 3.2 for i in range(6)}
    s = scaleprobe.base_sanity(clean, prev)
    assert s == {"median_base_ratio_vs_prev": 1.1, "contaminated": False}
    assert scaleprobe.base_sanity(dirty, prev)["contaminated"] is True
    # one genuinely-slowed entry must not flag a clean run (median)
    mixed = dict(clean, e0=9.0)
    assert scaleprobe.base_sanity(mixed, prev)["contaminated"] is False
    # too few comparable entries -> None (bootstrap rounds, subset probes)
    assert scaleprobe.base_sanity({"a": 1.0}, {"a": 1.0}) is None
    # sub-floor entries are not comparable
    assert scaleprobe.base_sanity(
        {f"e{i}": 0.3 for i in range(6)}, {f"e{i}": 0.1 for i in range(6)}
    ) is None


def test_previous_probe_bases_reads_factor_tagged_artifacts(tmp_path):
    import json

    root = str(tmp_path)
    art = {"entries": {"a": {"base_s": 1.5}, "b": {"base_s": 2.0}, "c": 3}}
    with open(tmp_path / "SCALEPROBE100x_r09.json", "w") as fh:
        json.dump(art, fh)
    with open(tmp_path / "SCALEPROBE_r09.json", "w") as fh:
        json.dump({"entries": {"a": {"base_s": 9.9}}}, fh)

    def bases(rnd, factor):
        rows = scaleprobe.previous_probe_entries(rnd, factor, root=root)
        return {k: v["base_s"] for k, v in rows.items()}

    assert bases(10, 100) == {"a": 1.5, "b": 2.0}
    assert bases(10, 10) == {"a": 9.9}
    # never reads the round being written
    assert bases(9, 100) == {}


def _fake_best_of(monkeypatch, calls=None, scaled=1.0, base=1.0):
    def fake(spark, name, sf_dir, action="noop", runs=harness.RUNS, **kw):
        if calls is not None:
            calls.append((name, sf_dir, runs))
        return (scaled if sf_dir == "SCALED" else base), None, 0

    monkeypatch.setattr(harness, "best_of", fake)


def test_adjudicate_spread_reruns_only_bounded_drifts(monkeypatch):
    """A >2x round-over-round ratio drift either way gets
    isolated best-of-N re-runs of both sides stamped into the row; stable
    entries and entries with no prior ratio don't."""
    calls = []
    _fake_best_of(monkeypatch, calls, scaled=2.0, base=0.5)
    rows = {
        # drifted 3x up vs prev -> adjudicated
        "drifted": {"ratio": 18.0, "scaled_s": 30.0, "base_s": 1.0},
        # stable -> untouched
        "stable": {"ratio": 6.0, "scaled_s": 30.0, "base_s": 1.0},
        # a slow scaled side is re-run like any other
        "heavy": {"ratio": 90.0, "scaled_s": 400.0, "base_s": 1.0},
        # no prior ratio -> untouched
        "fresh": {"ratio": 50.0, "scaled_s": 30.0, "base_s": 1.0},
        # drifted DOWN 3x -> adjudicated (spread cuts both directions)
        "sunk": {"ratio": 2.0, "scaled_s": 10.0, "base_s": 1.0},
    }
    prev = {
        "drifted": {"ratio": 6.0},
        "stable": {"ratio": 6.07},
        "heavy": {"ratio": 17.0},
        "sunk": {"ratio": 6.5},
    }
    adj = scaleprobe.adjudicate_spread(None, rows, prev, "BASE", "SCALED")
    assert [a["entry"] for a in adj] == ["heavy", "sunk", "drifted"]
    assert {c[0] for c in calls} == {"drifted", "sunk", "heavy"}
    assert {c[1] for c in calls} == {"BASE", "SCALED"}
    assert all(c[2] == harness.RUNS for c in calls)
    assert rows["drifted"]["isolated_ratio"] == 4.0
    assert rows["drifted"]["prev_ratio"] == 6.0
    assert "isolated_ratio" not in rows["stable"]
    assert "isolated_ratio" not in rows["fresh"]


def test_adjudicate_spread_bounds_rerun_count(monkeypatch):
    _fake_best_of(monkeypatch)
    n = harness.RERUN_CAP + 1
    rows = {
        f"e{i}": {"ratio": 10.0 * (i + 3), "scaled_s": 5.0, "base_s": 1.0}
        for i in range(n)
    }
    prev = {f"e{i}": {"ratio": 1.0} for i in range(n)}
    adj = scaleprobe.adjudicate_spread(None, rows, prev, "B", "S")
    assert sum(1 for a in adj if "note" not in a) == harness.RERUN_CAP
    # the WORST drifts were the ones adjudicated; the other carries a note
    adjudicated = {k for k, r in rows.items() if "isolated_ratio" in r}
    assert adjudicated == {f"e{i}" for i in range(1, n)}
    assert "re-run slots" in rows["e0"]["note"]


def test_adjudicate_spread_prefers_adjudicated_baseline(monkeypatch):
    """Once a prior round stamped isolated_ratio, THAT is the drift
    baseline — a clean sweep matching the adjudicated value must not
    re-trigger adjudication against the old noisy sweep ratio, and a real
    drift vs the adjudicated value must flag even if it lands near the
    old noise."""
    _fake_best_of(monkeypatch)
    rows = {
        # r10 case: noisy sweep 17.94 was adjudicated to 8.0; this round's
        # clean 7.0 sweep is within 2x of 8.0 -> NO re-adjudication
        "healthy": {"ratio": 7.0, "scaled_s": 30.0, "base_s": 1.0},
        # real regression vs the adjudicated 8.0 (to 17.5, near the old
        # noisy 18) -> MUST flag
        "regressed": {"ratio": 17.5, "scaled_s": 30.0, "base_s": 1.0},
    }
    prev = {
        "healthy": {"ratio": 17.94, "isolated_ratio": 8.0},
        "regressed": {"ratio": 18.0, "isolated_ratio": 8.0},
    }
    adj = scaleprobe.adjudicate_spread(None, rows, prev, "B", "S")
    assert [a["entry"] for a in adj] == ["regressed"]
    assert "isolated_ratio" not in rows["healthy"]
    assert rows["regressed"]["prev_ratio"] == 8.0
    assert "isolated_ratio" in rows["regressed"]


def test_adjudicate_spread_never_raises_on_degenerate_rows(monkeypatch):
    """'Never raises' includes a sweep ratio that rounded to 0.0 (a
    memo-served read), prev rows with junk values and a re-run that
    raises — hours of 1000x probe work sit behind this function's return."""
    def boom(*a, **k):
        raise RuntimeError("rerun boom")

    monkeypatch.setattr(harness, "best_of", boom)
    rows = {
        "zero_ratio": {"ratio": 0.0, "scaled_s": 30.0, "base_s": 30.0},
        "junk_prev": {"ratio": 5.0, "scaled_s": 30.0, "base_s": 1.0},
        "zero_prev": {"ratio": 5.0, "scaled_s": 30.0, "base_s": 1.0},
        "raises": {"ratio": 30.0, "scaled_s": 30.0, "base_s": 1.0},
    }
    prev = {
        "zero_ratio": {"ratio": 6.0},
        "junk_prev": {"ratio": "n/a"},
        "zero_prev": {"ratio": 0.0},
        "raises": {"ratio": 5.0},
    }
    adj = scaleprobe.adjudicate_spread(None, rows, prev, "B", "S")
    assert [a["entry"] for a in adj] == ["raises"]
    assert "rerun boom" in rows["raises"]["note"]
    assert all("isolated_ratio" not in r for r in rows.values())
