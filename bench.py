#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE compact JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

The printed line is kept under _LINE_BUDGET chars: the driver captures a
bounded tail of stdout — measured at EXACTLY 2000 chars in every recorded
``BENCH_r*.json`` (r01-r14; the two unparsed artifacts, r04/r05, are the
head-truncation incidents VERDICT r05 #1 documents: a ~3.4 KB line
carrying all ~100 per-query timings lost its head and never parsed). So a
FULL per-entry map physically cannot ride the line; instead (VERDICT r14
#1, within that physics):

- the line's ``queries`` map is packed GREEDILY to the budget — every
  entry the previous round's compact line carried (the driver's
  round-over-round comparator reads only these lines, so dropping a name
  breaks its series) plus as many slowest-first entries as fit (~28,
  up from the old slowest-8);
- the FULL per-query map lives in ``bench_result.json`` (path overridable
  via $SPARK_GRAFT_BENCH_OUT so test subprocess runs can't clobber the
  round's official artifact), and the round's closing run is committed as
  ``BENCH_FULL_r{N}.json`` so the next round's ambient deflator and
  regression tripwire start from a full-coverage baseline even on a fresh
  checkout (r14's PERF could compare only 2 common entries because the
  full map was local-only).

Each query executes fully via the JVM-side noop sink (no Python collect
overhead, no result truncation) after a small warm-up that absorbs session
and code-gen startup.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_states_spark.catalog import QUERIES  # noqa: E402
from spark_states_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the scale-relevant operators across every family —
# relational joins/aggs, windows, sessionization, fuzzy dedup, similarity
# search, text analysis, and real streaming state.
#
# Timing tiers (bounded wall-clock as the catalog grows): the CORE set —
# the round-over-round comparable series (r01-r03 headline + the streaming
# production recipes) — runs best-of-3 for steady-state numbers; the
# EXTENDED tail runs once as a regression tripwire (a tripwire regression
# is re-measured by re-running bench on that entry alone via
# SPARK_GRAFT_BENCH_QUERIES, which always uses best-of-3).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "q18_large_volume",
    "join_broadcast_dim",
    "distinct_counts",
    "window_topk_per_group",
    "window_running_revenue",
    "sessionize_events",
    "hourly_event_stats",
    "asof_join_latest_order",
    "dedup_exact_keep_first",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "similarity_cosine_topk",
    "similarity_lsh_ann",
    "similarity_ivf_ann",
    "text_token_stats",
    "text_quality_scores",
    "text_fingerprint",
    "streaming_hourly_agg",
    "streaming_dedup",
    "streaming_interval_join",
    "streaming_session_window",
    "streaming_minhash_band_dedup",
    # round-3/4 surface (VERDICT r03 #4): the state-EVICTING production
    # recipes, the outer interval join, the new text ops, the state-reader
    # scan, and the strict finite-TTL kernel.
    "streaming_hourly_agg_update",
    "streaming_session_window_append",
    "streaming_dedup_within_watermark",
    "streaming_interval_join_left_outer",
    "text_pii_scrub",
    "text_tfidf_top_terms",
    "state_store_scan",
    "keyed_state_ttl_strict",
    # round-4 additions: the remaining outer-join shape, the stateless
    # stream-static enrichment recipe, and int8-quantized vector search.
    "streaming_interval_join_full_outer",
    "streaming_static_enrich",
    "similarity_quantized_topk",
    "text_chunk_documents",
    "sample_balanced_by_lang",
    "rollup_hourly_to_daily",
    # round-5 additions: the post-dedup curation pipeline (duplicate
    # clustering, packing, decontamination, quality/repetition filters)
    # and the right-outer interval join completing the stream-join matrix.
    "dedup_cluster_connected_components",
    "contamination_ngram_overlap",
    "pack_token_budget_bins",
    "text_gopher_quality_filter",
    "text_repetition_stats",
    "streaming_interval_join_right_outer",
    "streaming_curation_pipeline",
    "dedup_embedding_keep_first",
    # round-4 late additions: CDC/time-series shapes, span-level dedup,
    # the bucketed co-located join (the no-shuffle fact-fact join), and
    # the streaming materialized-view pair.
    "cdc_upsert_latest",
    "timeseries_gap_fill_locf",
    "dedup_span_fraction",
    "bucketed_join_no_shuffle",
    "streaming_cdc_upsert",
    "streaming_topk_per_day",
    "partitioned_scan_prune",
    "merge_incremental_snapshot",
    "anomaly_zscore_events",
    "profile_lineitem_columns",
    "audit_referential_integrity",
    "fuzzy_join_part_names",
    "segment_customers_rfm",
    "streaming_quality_audit",
    "similar_users_timeseries",
    "histogram_event_values",
    # sketch + behavioral family: bounded-memory heavy hitters, the
    # Bloom-pruned semi join, and the single-shuffle funnel.
    "heavy_hitter_tokens",
    "bloom_semi_join_orders",
    "funnel_view_signup_purchase",
    "cohort_retention_daily",
    "hll_distinct_user_days",
    "streaming_funnel_stages",
    "exact_median_two_pass",
    "ohlc_daily_bars",
    "url_normalize_dedup",
    "compact_small_files",
    "exact_quantiles_multi",
    "streaming_ohlc_update",
    "graph_triangle_count",
    "range_band_join",
    "skyline_parts_2d",
    "hll_distinct_users_by_type",
    "streaming_hll_update",
    "curation_pipeline_report",
    "source_divergence_chi2",
    "kmeans_lloyd_step",
    "funnel_state_scan",
    "similarity_lsh_recall",
    "exact_median_by_group",
    "sample_mixture_weights",
    "dedup_cluster_keep_best",
    "batching_padding_waste",
    "source_token_concentration",
    # round-5 additions: the TTL bounds oracles (lazy chunked-replay
    # sandwich; finite wall-clock kernel) — the two new stateful entries.
    "keyed_state_ttl_lazy_bounds",
    "keyed_state_wallclock_finite_bounds",
    # Late-data contract: out-of-order replay through the append aggregation
    # (watermark = eviction, not admission — the middle third arrives late
    # and must still be counted).
    "streaming_late_arrival_merge",
    # Stop-and-resume across a checkpoint into the exactly-once file sink.
    "streaming_restart_recovery",
    # Two stateful operators in one query: hourly agg re-aggregated daily.
    "streaming_chained_agg_daily",
    # round-7 additions (VERDICT r06 #4): the catalog's slowest Spark-side
    # entries from the scalecheck series that the headline didn't cover —
    # so "worst headline query" can no longer understate the catalog tail.
    # They join the EXTENDED tier (single run); the 98-entry historical
    # series stays intact as the prefix.
    "agg_cube_orders",
    # r09: `user_gap_median` (the grouped-Pandas spelling) is demoted from
    # the headline (VERDICT r08 #2/#4): its purpose — measuring the Arrow-
    # crossing cost against `user_gap_median_builtin` — is fulfilled and
    # recorded (BASELINE.md r09 notes). It stays a catalog entry, verified
    # by scalecheck and the driver's correctness window.
    "scalar_math_funcs",
    "window_rank_family",
    "streaming_sliding_window_update",
    "keyed_state_ttl_per_query",
    "keyed_state_wallclock_infinite",
    # round-8: the JVM-built-in sibling of the grouped-Pandas demo — the
    # pair's delta IS the measured Arrow-crossing cost (VERDICT r07 #5).
    "user_gap_median_builtin",
    # r15 (VERDICT r13 #3 via r14 #1): the 12 post-r10 catalog entries the
    # headline never absorbed — appended after the historical series so
    # N_CORE/N_PREFIX totals stay comparable; they join the EXTENDED
    # single-run tier like the r07 tail absorbers.
    "text_repetition_ngrams",
    "text_rarity_score",
    "dedup_prefix_filter_jaccard",
    "behavior_bounce_rate_daily",
    "behavior_peak_concurrency_daily",
    "timeseries_rolling_zscore",
    "layout_zorder_clustering",
    "sketch_quantile_kll",
    "sketch_quantile_merge_daily",
    "sketch_kmv_jaccard",
    "behavior_path_trigrams",
    "anomaly_mad_outliers",
]

# CORE = through the strict-TTL kernel (index of the r03-comparable set +
# the state-evicting production recipes); everything after is EXTENDED.
N_CORE = HEADLINE.index("keyed_state_ttl_strict") + 1

# The comparable round-over-round series (VERDICT r07 #2): the 98-entry
# historical prefix — everything before the r07 EXTENDED tail absorbers.
N_PREFIX = HEADLINE.index("agg_cube_orders")

_ROOT = os.path.dirname(os.path.abspath(__file__))
# Self-adjudication tripwire thresholds — same contract as scalecheck.py's
# spark_regressions (a 2× growth on a sub-half-second entry is scheduler
# noise whatever the ratio).
_REGRESSION_FLOOR_S = 0.5
_REGRESSION_RATIO = 2.0
# Past this many tripwire flags the slowdown is systemic (a contended box,
# not N independent plan regressions) — adjudicated by a BOUNDED probe
# instead of per-entry re-runs (VERDICT r08 #1: the old skip-entirely guard
# shipped the one driver run that needed adjudication without one).
_SYSTEMIC_FLAGS = 8
_CANARY = "q1_pricing_summary"
# Per-query wall budget at sf0.1 (BASELINE.md operative target). Any entry
# whose SWEPT timing exceeds it gets an isolated best-of-3 re-run stamped
# into the artifact even when it sits under the 2× tripwire (VERDICT r11
# #1: the r11 drain carriers rose +21-53% to 1.30× budget at batch ambient
# 0.97, and nothing in the artifact could say whether that was box or
# engine — `ambient_ratio` is a batch-dominated median that cannot clear
# wall-clock-sensitive streaming drains).
_BUDGET_S = 5.0
# Bound the budget adjudicator like every other adjudicator here (the
# tripwire path probes worst-3 + canary past _SYSTEMIC_FLAGS; scaleprobe
# caps spread re-runs): on a ~2x-contended box a dozen entries cross the
# budget at once, and best-of-3 re-running each on the still-contended box
# adds minutes of wall for numbers that adjudicate nothing.
_MAX_BUDGET_ADJUDICATIONS = 5
# Printed-line budget: the driver's stdout capture is a 2000-char tail
# (measured: every BENCH_r01-r14 artifact stamps tail_len == 2000, and the
# two rounds whose line exceeded it, r04/r05, never parsed). The line must
# sit FULLY inside that tail, sharing it with whatever trailing output
# sneaks past the final print — 180 chars of slack covers the newline plus
# a stray shutdown WARN without giving up map coverage.
_LINE_BUDGET = 1820
# Totals-level drift tripwire (VERDICT r13 #2 via r14 #1): per-entry
# tripwires can miss a broad slowdown below 2× each; core_total drifting
# past this ratio on a QUIET box (ambient <= 1.0 — a contended box already
# explains the drift) triggers bounded isolated re-runs of the largest
# contributors and a stamped verdict.
_CORE_DRIFT_RATIO = 1.10
_MAX_CORE_DRIFT_RERUNS = 5
# Noise band on the breach VERDICT only (VERDICT r12 #3: an isolated
# 5.016 s = 1.003x budget carried isolated_over_budget=true for 16 ms —
# below the best-of-3 run-to-run jitter on this box, which is ~3-5% even
# quiet). The raw isolated_s is stamped unrounded either way; only the
# boolean tolerates the jitter floor. The ~5 s budget itself is a derived
# working target (BASELINE.md), not a published reference number.
_BUDGET_VERDICT_BAND = 1.05


def _prev_bench(root: str = _ROOT) -> dict:
    """Round-over-round comparison baseline, best available (VERDICT r07 #1:
    BENCH artifacts must be self-adjudicating — a reader of the current
    round's line alone should see core-total drift without BASELINE.md
    exegesis).

    Returns {"round": N|None, "core_total": float|None,
    "prefix_total": float|None, "queries": {...}, "source": str}:

    - per-round totals come from the newest ``BENCH_r{N}.json`` (the
      driver-recorded compact line; carries ``core_total``/``prefix_total``
      from r08 on), falling back to summing the committed full map in
      ``bench_result.json`` / ``BENCH_FULL_r{N}.json`` for the bootstrap
      round;
    - the per-entry ``queries`` map for the regression tripwire and the
      ambient deflator comes from the full map: the LOCAL (gitignored)
      ``bench_result.json`` when a full run wrote one this checkout, else
      the newest COMMITTED ``BENCH_FULL_r{N}.json`` (r15, VERDICT r14 #1:
      a fresh checkout previously fell back to the compact line's
      slowest-8, which starved the deflator and blinded the tripwire for
      ~100 entries on every driver run);
    - ``compact_names`` records which entries the newest per-round COMPACT
      line carried — the printed-line packer must keep carrying them (the
      driver's round-over-round comparator reads only the compact lines,
      so a name dropped from one breaks its series).
    """
    out: dict = {"round": None, "core_total": None, "prefix_total": None,
                 "queries": {}, "source": "none", "compact_names": []}

    def _take_full_map(queries: dict, source: str) -> None:
        out["queries"] = queries
        core = [q for q in HEADLINE[:N_CORE] if q in queries]
        prefix = [q for q in HEADLINE[:N_PREFIX] if q in queries]
        if core:
            out["core_total"] = round(sum(queries[q] for q in core), 3)
        if prefix:
            out["prefix_total"] = round(sum(queries[q] for q in prefix), 3)
        out["source"] = source

    try:
        with open(os.path.join(root, "bench_result.json")) as fh:
            full = json.load(fh)
        _take_full_map(full.get("queries", {}) or {}, "bench_result.json")
    except (OSError, ValueError):
        pass
    # A dev-subset run (SPARK_GRAFT_BENCH_QUERIES) that wrote the default
    # out path leaves a tiny map behind; using it as the baseline silently
    # disables the ambient deflator (< min_common entries → None) and
    # blinds the regression tripwire for every entry it lacks (r14: a
    # 4-entry A/B leftover did exactly this to the next full run). A map
    # covering less than half the headline set is not a full-run baseline —
    # fall through to the committed full artifact / per-round line instead.
    if len(out["queries"]) < max(8, len(HEADLINE) // 2):
        out["queries"] = {}
        out["core_total"] = None
        out["prefix_total"] = None
        out["source"] = "none"
    if not out["queries"]:
        # Committed full-map fallback (r15): the newest BENCH_FULL_r{N}.json
        # is the previous round's closing full run, same line format as
        # bench_result.json.
        best_full: tuple[int, str] | None = None
        for p in glob.glob(os.path.join(root, "BENCH_FULL_r*.json")):
            m = re.search(r"BENCH_FULL_r(\d+)\.json$", p)
            if m and (best_full is None or int(m.group(1)) > best_full[0]):
                best_full = (int(m.group(1)), p)
        if best_full is not None:
            try:
                with open(best_full[1]) as fh:
                    full = json.load(fh)
                queries = {
                    k: v for k, v in (full.get("queries") or {}).items()
                    if isinstance(v, (int, float))
                }
                if len(queries) >= max(8, len(HEADLINE) // 2):
                    _take_full_map(queries, os.path.basename(best_full[1]))
            except (OSError, ValueError):
                pass
    best: tuple[int, str] | None = None
    for p in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m and (best is None or int(m.group(1)) > best[0]):
            best = (int(m.group(1)), p)
    if best is not None:
        try:
            with open(best[1]) as fh:
                rec = json.load(fh)
            # The DRIVER-recorded artifact wraps the compact line under
            # "parsed" ({"n": N, "rc": .., "tail": .., "parsed": {...}});
            # builder-side copies are the bare line. Accept both — a fresh
            # checkout has ONLY the driver wrapper (bench_result.json is
            # gitignored), and without this the baseline silently resolves
            # to nothing.
            if isinstance(rec.get("parsed"), dict):
                rec = rec["parsed"]
            out["round"] = best[0]
            # Per-round artifacts outrank the (re-run-overwritable) full
            # map for the totals once they carry them.
            for k in ("core_total", "prefix_total"):
                if isinstance(rec.get(k), (int, float)):
                    out[k] = rec[k]
                    out["source"] = os.path.basename(best[1])
            if isinstance(rec.get("queries"), dict):
                # The packer must keep carrying every name the previous
                # compact line had (see docstring).
                out["compact_names"] = [
                    k for k, v in rec["queries"].items()
                    if isinstance(v, (int, float))
                ]
                # Tripwire baseline fallback: when no full map is
                # available, the compact line's packed map is a PARTIAL
                # baseline — better than an empty one (entries absent from
                # it just aren't tripwire-checked this run).
                if not out["queries"]:
                    out["queries"] = {
                        k: v for k, v in rec["queries"].items()
                        if isinstance(v, (int, float))
                    }
        except (OSError, ValueError):
            pass
    return out


def _drain_groups(timings: dict[str, float]) -> dict[str, dict]:
    """Shared-drain annotation (VERDICT r07 #1/#2): for every registered
    shared memo whose entries are in this run, record the group, which
    entry CARRIED the materialization (the first participant in run order
    pays the drain; later ones read the memo), and the pair/group SUM —
    the figure actually comparable round-over-round when carriers swap.
    A carrier breaching the per-query budget while the group sum falls is
    an accounting artifact, not a regression; this key makes the artifact
    say so itself."""
    try:
        from spark_states_spark.catalog import SHARED_MEMOS
    except Exception:
        return {}
    out: dict[str, dict] = {}
    for tag, entries in sorted(SHARED_MEMOS.items()):
        present = [q for q in HEADLINE if q in entries and q in timings]
        if len(present) < 2:
            continue
        out[tag] = {
            "entries": present,
            "carrier": present[0],
            "sum_s": round(sum(timings[q] for q in present), 3),
        }
    return out


def _ambient_ratio(
    current: dict[str, float],
    prev_queries: dict[str, float],
    floor_s: float = 0.2,
    min_common: int = 8,
) -> float | None:
    """Median per-entry ratio vs the previous round's FULL map — the
    artifact's own box-noise deflator (VERDICT r09 #2).

    Same-code runs on this box drift ±15-25% round-over-round with zero
    per-entry tripwires (r08/r09 adjudications); totals and derived
    throughput then look like regressions while every entry sits below the
    2× threshold. The median ratio over the common entries is robust to the
    handful of genuinely-changed entries (they're the tails) and to noise
    on sub-floor timings (filtered), so it measures the AMBIENT shift:
    ~1.0 on a quiet box, 1.27 on r09's contended one. Returns None when
    fewer than ``min_common`` comparable entries exist (bootstrap rounds,
    tiny subset runs) — a median of 3 entries measures those entries, not
    the box."""
    import statistics

    ratios = [
        cur / old
        for name, cur in current.items()
        if (old := prev_queries.get(name)) is not None
        and cur >= floor_s
        and old >= floor_s
    ]
    if len(ratios) < min_common:
        return None
    return round(statistics.median(ratios), 2)


def _regressions_vs_prev(
    timings: dict[str, float], prev_queries: dict[str, float]
) -> list[dict]:
    """Entries >2× their previous-run best (0.5 s floor both sides) —
    the bench face of scalecheck's tripwire (VERDICT r07 #2)."""
    out = []
    for name, cur in sorted(timings.items()):
        old = prev_queries.get(name)
        if old is None or cur < _REGRESSION_FLOOR_S:
            continue
        ratio = cur / max(old, _REGRESSION_FLOOR_S)
        if ratio > _REGRESSION_RATIO:
            out.append({"entry": name, "prev_s": old, "now_s": cur,
                        "ratio": round(ratio, 2)})
    return sorted(out, key=lambda r: -r["ratio"])


def _adjudicate_tripwires(
    regressions: list[dict],
    rerun,
    prev_queries: dict[str, float],
    canary: str | None = _CANARY,
) -> dict | None:
    """Stamp isolated re-run numbers into tripwire rows so the artifact
    carries its own noise-vs-real verdict (VERDICT r07 #3 / r08 #1).

    - ``len(regressions) <= _SYSTEMIC_FLAGS``: every flagged row gets an
      ``isolated_s`` (best-of-N, memos cleared); returns None — per-row
      numbers ARE the adjudication.
    - more flags than that = a systemic environment slowdown. Per-entry
      re-runs of every row add wall clock without signal, but SKIPPING
      adjudication shipped the r08 driver artifact with 9 unexplained
      flags. Instead: a BOUNDED probe — the 3 worst flagged entries plus a
      fixed fast canary — best-of-N each, and a stamped verdict:
      ``systemic_contention`` is true iff every probed flagged entry lands
      back at previous levels (isolated ratio <= the tripwire threshold) OR
      the canary itself is slow at probe time (the box is still contended,
      so nothing can be concluded against the engine).

    ``rerun(name) -> seconds`` does the isolated best-of-N measurement;
    split out so a synthetic slow-run test can exercise the verdict logic
    without a Spark session.
    """
    if len(regressions) <= _SYSTEMIC_FLAGS:
        for r in regressions:
            r["isolated_s"] = rerun(r["entry"])
        return None
    probe: dict[str, dict] = {}
    for r in regressions[:3]:  # already sorted worst-ratio-first
        r["isolated_s"] = rerun(r["entry"])
        probe[r["entry"]] = {
            "role": "flagged",
            "prev_s": r["prev_s"],
            "swept_s": r["now_s"],
            "isolated_s": r["isolated_s"],
            "isolated_ratio": round(
                r["isolated_s"] / max(r["prev_s"], _REGRESSION_FLOOR_S), 2
            ),
        }
    canary_slow = False
    if canary and canary not in probe:
        row: dict = {"role": "canary", "isolated_s": rerun(canary)}
        prev = prev_queries.get(canary)
        if prev is not None:
            row["prev_s"] = prev
            row["isolated_ratio"] = round(
                row["isolated_s"] / max(prev, _REGRESSION_FLOOR_S), 2
            )
            # A historically sub-second canary only testifies to contention
            # when its isolated number clears the noise floor outright.
            canary_slow = (
                row["isolated_s"] >= _REGRESSION_FLOOR_S
                and row["isolated_ratio"] > _REGRESSION_RATIO
            )
        probe[canary] = row
    flagged_cleared = all(
        row["isolated_ratio"] <= _REGRESSION_RATIO
        for row in probe.values()
        if row["role"] == "flagged"
    )
    return {
        "systemic_contention": flagged_cleared or canary_slow,
        "flagged_cleared": flagged_cleared,
        "canary_slow": canary_slow,
        "probe": probe,
    }


def _adjudicate_budget_breaches(
    timings: dict[str, float],
    regressions: list[dict],
    rerun,
    drain_groups: dict[str, dict],
    budget_s: float = _BUDGET_S,
    systemic: bool = False,
) -> list[dict]:
    """Isolated best-of-3 re-runs for entries whose SWEPT time exceeds the
    per-query budget but sit under the 2× tripwire (VERDICT r11 #1).

    The sweep measures entries at the END of a session carrying ~30
    drained streaming queries' provider/memo churn, so a drain carrier's
    swept number conflates engine time with session-tail noise; the
    isolated number (memos cleared, best-of-3 — the same contract as the
    tripwire path) is the adjudicated one. Entries already adjudicated by
    the tripwire path reuse that ``isolated_s`` instead of re-running.
    Bounded: at most _MAX_BUDGET_ADJUDICATIONS fresh re-runs
    (worst-swept first; later rows carry a lost-the-slot note), and when
    the tripwire path already went ``systemic`` (>_SYSTEMIC_FLAGS flags —
    the box itself is implicated) fresh re-runs are skipped entirely:
    numbers measured on a still-contended box adjudicate nothing, and the
    systemic verdict already explains the breaches. Returns rows sorted
    worst-swept-first:
    ``{entry, swept_s, isolated_s?, isolated_over_budget?, drain_group?,
    note?}``.
    """
    already = {r["entry"]: r.get("isolated_s") for r in regressions}
    group_of = {
        q: tag for tag, g in drain_groups.items() for q in g["entries"]
    }
    rows: list[dict] = []
    fresh = 0
    for name, swept in sorted(timings.items(), key=lambda kv: -kv[1]):
        if swept <= budget_s:
            continue
        row: dict = {"entry": name, "swept_s": swept}
        if name in group_of:
            row["drain_group"] = group_of[name]
        iso = already.get(name)
        if iso is None:
            if systemic:
                row["note"] = (
                    "over budget but unadjudicated: the tripwire path "
                    "stamped a systemic-contention probe this run — an "
                    "isolated re-run on the same contended box proves "
                    "nothing"
                )
                rows.append(row)
                continue
            if fresh >= _MAX_BUDGET_ADJUDICATIONS:
                row["note"] = (
                    f"over budget but {_MAX_BUDGET_ADJUDICATIONS} "
                    "worse-swept entries took the re-run slots this run"
                )
                rows.append(row)
                continue
            fresh += 1
            iso = rerun(name)
        row["isolated_s"] = iso
        row["isolated_over_budget"] = iso > budget_s * _BUDGET_VERDICT_BAND
        rows.append(row)
    return rows


def _adjudicate_core_drift(
    core_total: float,
    prev_core_total: float | None,
    ambient: float | None,
    timings: dict[str, float],
    prev_queries: dict[str, float],
    rerun,
    core_names: list[str],
) -> dict | None:
    """Totals-level drift tripwire (VERDICT r13 #2 via r14 #1): per-entry
    tripwires fire at 2× each, so a broad +10-50% slowdown across the core
    set can ship without a single flag. When core_total exceeds
    ``_CORE_DRIFT_RATIO``× the previous round's on a box whose ambient
    ratio reads quiet (<= 1.0 — a contended box already explains the
    drift, and isolated re-runs on it adjudicate nothing), the largest
    contributors get bounded isolated best-of-3 re-runs and the block
    carries a residual verdict: ``drift_real`` is true iff the core total,
    with each probed entry's swept time replaced by its isolated time,
    STILL exceeds the threshold.

    Returns None when no comparison is possible (no previous core total,
    or a subset run that didn't time the full core set); otherwise a block
    with at least {triggered, ratio}.
    """
    if not prev_core_total or any(q not in timings for q in core_names):
        return None
    ratio = round(core_total / prev_core_total, 3)
    block: dict = {
        "triggered": bool(
            core_total > _CORE_DRIFT_RATIO * prev_core_total
            and ambient is not None
            and ambient <= 1.0
        ),
        "ratio": ratio,
        "threshold": _CORE_DRIFT_RATIO,
    }
    if not block["triggered"]:
        return block
    # Rank core entries by absolute contribution to the drift (fall back
    # to swept time when the previous full map lacks the entry).
    deltas = sorted(
        (
            (timings[q] - prev_queries.get(q, 0.0), q)
            for q in core_names
        ),
        reverse=True,
    )
    rows: list[dict] = []
    explained = 0.0
    for _delta, q in deltas[:_MAX_CORE_DRIFT_RERUNS]:
        iso = rerun(q)
        row = {"entry": q, "swept_s": timings[q], "isolated_s": iso}
        if q in prev_queries:
            row["prev_s"] = prev_queries[q]
        rows.append(row)
        explained += max(0.0, timings[q] - iso)
    block["rows"] = rows
    block["residual_core_total"] = round(core_total - explained, 3)
    block["drift_real"] = bool(
        block["residual_core_total"] > _CORE_DRIFT_RATIO * prev_core_total
    )
    return block


def _pack_compact_queries(
    compact: dict,
    timings: dict[str, float],
    prev_compact_names: list[str],
    budget: int = _LINE_BUDGET,
) -> None:
    """Fill ``compact["queries"]`` with as many per-entry timings as the
    line budget allows (VERDICT r14 #1: the old slowest-8 map gave the
    driver's round-over-round comparator an almost-empty intersection —
    PERF_r14 compared 2 queries).

    Priority order: (1) every entry the PREVIOUS round's compact line
    carried that this run timed — the driver compares compact lines, so a
    name present last round must never vanish from this one while still
    being timed; (2) everything else slowest-first, the regression-
    relevant tail. Greedy fill against the serialized line length; entries
    are appended in priority order and the first overflow stops the fill
    (names are of similar length, so smarter packing buys ~1 entry at the
    cost of a nondeterministic map).
    """
    guaranteed = [q for q in prev_compact_names if q in timings]
    compact["queries"] = {q: timings[q] for q in guaranteed}
    seen = set(guaranteed)
    for q in sorted(timings, key=lambda k: -timings[k]):
        if q in seen:
            continue
        compact["queries"][q] = timings[q]
        if len(json.dumps(compact)) > budget:
            del compact["queries"][q]
            break


def _unload_state_providers(spark) -> None:
    """Drop every loaded state-store provider and its maintenance thread.

    The run's ~30 streaming drains each load RocksDB providers (one per
    state partition) that stay resident in the JVM after the drain ends,
    so by the tail of a full headline run hundreds of maintenance threads
    compete with the query being timed — and their shutdown churn is the
    stderr flood that ate BENCH_r04. ``StateStore.stop()`` is Spark's own
    session-shutdown hook (idempotent; providers lazily re-load on next
    use), so calling it between queries resets each measurement to a clean
    provider slate. Best-effort: the JVM walk is internal API, so a miss
    degrades to the old accumulate-then-unload behavior.
    """
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass


def warm_up(spark, sf_dir: str) -> None:
    """Absorb session/codegen startup + the per-process fixture
    replay-order guard BEFORE any per-entry timing loop (bench and
    scalecheck share this; duplicated copies drifted once already). The
    guard is an integrity ASSERTION on the driver-regenerated fixtures,
    not query work — a production deployment validates an input's
    ordering contract once at ingest, amortized over every query relying
    on it. Without this, whichever entry runs first absorbs ~4-5 s of
    warm-up into its timed run (scalecheck r07: agg_cube_orders measured
    5.9 s cold-first vs 0.6 s warm).
    """
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    try:
        from spark_states_spark.streaming.queries import (
            _assert_event_id_ts_monotone,
        )

        _assert_event_id_ts_monotone(spark, sf_dir, scope="global")
    except AssertionError:
        raise
    except Exception:
        pass  # guard warm-up is best-effort; entries re-run it if needed


def _clear_entry_memos(name: str) -> None:
    """Clear shared-drain memos that ``name`` itself participates in.

    Re-runs of a shared-drain entry must re-pay ITS memo (the funnel
    pair's one-ingest-two-readers cache) or best-of-N degenerates to
    timing a groupBy over an already-materialized sink. Only the entry's
    OWN memos are cleared (ADVICE r06: clearing every memo on every
    entry's re-runs made the pair's series order-dependent — an
    intervening best-of-3 entry wiped the memo, so the second reader
    always re-paid a full drain instead of the documented checkpoint
    read). Run 1 keeps all memo state so the official full-bench mode
    still measures the intended cross-entry sharing. Delegates to
    catalog.clear_shared_memos, which releases the entry's own lifetime
    tag and each shared tag it reads, so pinned checkpoint blocks, sink
    views and dirs are freed, not just dereferenced (ADVICE r07).
    """
    try:
        from spark_states_spark.catalog import clear_shared_memos

        clear_shared_memos(name)
    except Exception:
        pass


def run_query(
    spark, name: str, sf_dir: str, n_runs: int = 3,
    clear_memos_first: bool = False,
) -> float:
    """Steady-state latency: best of ``n_runs``, cache cleared before each.

    The first execution of a plan shape absorbs JVM codegen/JIT warm-up
    (measured ~2× on q1); clearing the cache between runs keeps .cache()'d
    intermediates from turning the second run into a cache read. Best-of-3
    (was 2) damps run-environment noise — the BENCH_r02-vs-r01 +34% swing
    on untouched queries was machine noise, not code (VERDICT r02).

    ``clear_memos_first`` also clears the entry's shared-drain memos before
    run 1 (ADVICE r08): at the END of a full sweep every memo is warm, so
    an isolated ADJUDICATION re-run of a drain CARRIER would otherwise time
    a near-zero memo read on run 1 and best-of-N would record that —
    mislabeling a genuine carrier regression as session noise. The official
    full-sweep mode keeps run 1's memo state (cross-entry sharing is the
    thing being measured there).
    """
    best = float("inf")
    for i in range(n_runs):
        spark.catalog.clearCache()
        _unload_state_providers(spark)
        if i > 0 or clear_memos_first:
            _clear_entry_memos(name)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    # Dev/test knob: run a comma-separated subset of the headline queries.
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    headline = [q for q in HEADLINE if q in subset.split(",")] if subset else HEADLINE
    spark = build_session(app_name="spark_states_bench")
    # Throughput default for the ENGINE's own timed paths (r14 Change 2 /
    # ADVICE r14 scoping): per-put row-count tracking off; library
    # sessions keep Spark's default metric semantics (session.py note).
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
        "false",
    )
    warm_up(spark, SF_DIR)  # session init + codegen + replay-order guard

    timings: dict[str, float] = {}
    for name in headline:
        n_runs = 3 if (subset or HEADLINE.index(name) < N_CORE) else 1
        timings[name] = round(run_query(spark, name, SF_DIR, n_runs), 3)

    sf_match = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(sf_match.group(1).rstrip(".")) if sf_match else None
    total = round(sum(timings.values()), 3)
    # Self-adjudication block (VERDICT r07 #1/#2): the artifact carries the
    # comparable series totals, the previous round's values, the shared-
    # drain group sums, and an auto-adjudicated regression list — so a
    # reader of BENCH_r{N}.json alone can tell a drain-carrier budget
    # artifact from a real breach and core-total drift from engine
    # regressions. The baseline is read BEFORE bench_result.json is
    # overwritten below.
    prev = _prev_bench()
    core = [q for q in HEADLINE[:N_CORE] if q in timings]
    prefix = [q for q in HEADLINE[:N_PREFIX] if q in timings]
    core_total = round(sum(timings[q] for q in core), 3)
    prefix_total = round(sum(timings[q] for q in prefix), 3)
    regressions = _regressions_vs_prev(timings, prev["queries"])
    # Ambient-noise deflator (VERDICT r09 #2): the r09 artifact's 28%
    # "throughput collapse" and +74% core_total were a box-wide 1.27×
    # median slowdown below every per-entry tripwire — real regressions
    # hide in totals unless the artifact carries its own deflator.
    ambient = _ambient_ratio(timings, prev["queries"])
    # Auto isolated re-run for tripwire hits (VERDICT r07 #3 / r08 #1):
    # re-measure flagged entries best-of-3 at the END of the sweep — after
    # the session tail's provider/memo churn — so the noise-vs-real
    # adjudication lives in the artifact, not a commit message. Past
    # _SYSTEMIC_FLAGS, a bounded probe (worst 3 + canary) stamps a
    # systemic_contention verdict instead (the r08 driver run flagged 9
    # and the old skip guard shipped it unadjudicated).
    isolated_rerun = lambda name: round(  # noqa: E731 — shared by both adjudicators
        run_query(spark, name, SF_DIR, 3, clear_memos_first=True), 3
    )
    contention = _adjudicate_tripwires(
        regressions,
        rerun=isolated_rerun,
        prev_queries=prev["queries"],
        canary=_CANARY if _CANARY in timings else None,
    )
    drains = _drain_groups(timings)
    # Budget-threshold adjudication (VERDICT r11 #1): over-budget entries
    # get isolated_s even under the 2× tripwire — unless the tripwire path
    # itself went systemic (the box is implicated; fresh re-runs on it
    # adjudicate nothing).
    # ``systemic`` means the probe VERDICT was systemic, not merely that a
    # probe ran (ADVICE r12): _adjudicate_tripwires returns a dict for ANY
    # >_SYSTEMIC_FLAGS run, including systemic_contention=False — the case
    # where regressions reproduced isolated (engine implicated, box
    # healthy), where fresh budget re-runs DO adjudicate.
    budget_breaches = _adjudicate_budget_breaches(
        timings, regressions, isolated_rerun, drains,
        systemic=bool(contention and contention["systemic_contention"]),
    )
    # Totals-level drift tripwire (VERDICT r13 #2 via r14 #1): catches the
    # broad-but-under-2×-each core slowdown the per-entry tripwire can't.
    core_drift = _adjudicate_core_drift(
        core_total,
        prev["core_total"],
        ambient,
        timings,
        prev["queries"],
        isolated_rerun,
        HEADLINE[:N_CORE],
    )
    # Streaming-specific ambient: the batch-dominated median above cannot
    # clear wall-clock-sensitive drains; this one is the median over the
    # shared-drain participants only (min_common=4 — there are ~10).
    drain_entries = {q for g in drains.values() for q in g["entries"]}
    ambient_drain = _ambient_ratio(
        {k: v for k, v in timings.items() if k in drain_entries},
        prev["queries"],
        min_common=4,
    )
    # Streaming throughput vs the BASELINE.md >= 10K events/s target: the
    # streaming_hourly_agg timing is a full drain (availableNow) of the
    # events fixture through the RocksDB-backed stateful aggregation.
    result = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "core_total": core_total,
        "prefix_total": prefix_total,
        "prev_round": prev["round"],
        "prev_core_total": prev["core_total"],
        "prev_prefix_total": prev["prefix_total"],
        "prev_source": prev["source"],
        "drain_groups": drains,
        "regressions_vs_prev": regressions,
        "ambient_ratio": ambient,
        "ambient_ratio_drain": ambient_drain,
        "budget_s": _BUDGET_S,
        "budget_breaches": budget_breaches,
    }
    if contention is not None:
        result["contention"] = contention
    if core_drift is not None:
        result["core_drift"] = core_drift
    # Throughput reflects the PRODUCTION recipe (update-mode, watermark-
    # evicting state — VERDICT r03 #4), falling back to the complete-mode
    # harness only if the update entry was excluded from a subset run.
    tput_query = (
        "streaming_hourly_agg_update"
        if "streaming_hourly_agg_update" in timings
        else "streaming_hourly_agg" if "streaming_hourly_agg" in timings else None
    )
    if tput_query:
        n_events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()
        result["streaming_events_per_sec"] = round(n_events / timings[tput_query])
        result["streaming_events_per_sec_query"] = tput_query
        if ambient is not None:
            # Raw throughput divided by a box running ambient× slow
            # understates the engine by exactly that factor; the deflated
            # number is the round-over-round comparable one (r09's raw
            # 20.7 K was a quiet-box ~26 K).
            result["streaming_events_per_sec_deflated"] = round(
                result["streaming_events_per_sec"] * ambient
            )
    full_line = json.dumps(result)
    # Artifact loss-proofing (VERDICT r04 #1): the driver captures a bounded
    # tail of stdout+stderr, and spark.stop() floods stderr with state-store
    # maintenance shutdown noise. Persist the FULL result to a file FIRST,
    # then stop the session, then print a COMPACT summary as the very last
    # line so it can never be pushed out of (or truncated within) the
    # captured tail (VERDICT r05 #1: the full per-query map made the line
    # ~3.4 KB and the tail capture cut its head off).
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_result.json"),
    )
    with open(out_path, "w") as fh:
        fh.write(full_line + "\n")
    worst = max(timings, key=timings.get)
    compact = {
        "metric": result["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "worst_query": worst,
        "worst_sec": timings[worst],
        # The driver records THIS line as BENCH_r{N}.json — the totals and
        # adjudication keys here are what makes the artifact self-
        # adjudicating (and what _prev_bench reads back next round).
        "core_total": core_total,
        "prefix_total": prefix_total,
        "prev_core_total": prev["core_total"],
        "prev_prefix_total": prev["prefix_total"],
        "drain_sums": {t: g["sum_s"] for t, g in result["drain_groups"].items()},
        "n_regressions": len(regressions),
        # The compact line must self-deflate (VERDICT r09 #2): totals and
        # throughput are only comparable once the reader knows the box's
        # ambient shift this run.
        "ambient_ratio": ambient,
        "ambient_ratio_drain": ambient_drain,
        # Budget adjudication verdict (VERDICT r11 #1): how many entries
        # swept over the ~5 s budget, and how many STAYED over it when
        # re-run isolated — the number that distinguishes session-tail
        # noise from a real breach. Detail rows ride the full artifact.
        "n_budget_breaches": len(budget_breaches),
        # .get(): note-only rows (slot-capped / systemic-suppressed) carry
        # no isolated_* keys — r12's artifact avoided the KeyError only
        # because one of its 6 breaches reused a tripwire isolated_s
        # (ADVICE r12). Those rows are counted separately rather than
        # silently read as under-budget.
        "n_isolated_over_budget": sum(
            1 for r in budget_breaches if r.get("isolated_over_budget")
        ),
        "n_breaches_unadjudicated": sum(
            1 for r in budget_breaches if "isolated_over_budget" not in r
        ),
        # The packer fills this below — as many per-entry timings as the
        # line budget allows; the full map is in bench_result.json
        # (queries_full points the reader there).
        "queries": {},
        "queries_full": os.path.basename(out_path),
    }
    if contention is not None:
        # The systemic-slowdown verdict must ride the driver-recorded line
        # (the probe detail lives in the full artifact).
        compact["systemic_contention"] = contention["systemic_contention"]
    if core_drift is not None:
        # Totals-drift verdict rides the line; the probe rows live in the
        # full artifact.
        compact["core_drift"] = core_drift["triggered"]
        if core_drift["triggered"]:
            compact["core_drift_real"] = core_drift.get("drift_real")
    for k in (
        "streaming_events_per_sec",
        "streaming_events_per_sec_query",
        "streaming_events_per_sec_deflated",
    ):
        if k in result:
            compact[k] = result[k]
    # Pack the per-entry map LAST so it absorbs exactly the space the
    # fixed keys leave under the budget (VERDICT r14 #1).
    _pack_compact_queries(compact, timings, prev["compact_names"])
    # Line-budget contract (the driver keeps a 2000-char stdout tail —
    # see the module docstring): shrink instead of asserting (ADVICE r07's
    # scalecheck finding applies here too) — drop packed-map entries, then
    # the pointer keys, and finally (ADVICE r08: the drops alone had no
    # guarantee) fall back to a minimal fixed-key core whose size is
    # bounded by construction.
    line = json.dumps(compact)
    while len(line) > _LINE_BUDGET and compact["queries"]:
        compact["queries"].popitem()
        line = json.dumps(compact)
    if len(line) > _LINE_BUDGET:
        compact.pop("queries_full", None)
        compact.pop("drain_sums", None)
        line = json.dumps(compact)
    if len(line) > _LINE_BUDGET:
        minimal_keys = (
            "metric", "value", "unit", "sf", "n_queries", "worst_sec",
            "core_total", "prefix_total", "n_regressions",
            "ambient_ratio", "systemic_contention", "core_drift",
            "core_drift_real",
            "n_budget_breaches", "n_isolated_over_budget",
            "n_breaches_unadjudicated",
        )
        line = json.dumps({k: compact[k] for k in minimal_keys if k in compact})
    # Unload providers BEFORE stop: most of the shutdown stderr flood that
    # ate BENCH_r04 was provider-unload churn racing the dying RpcEnv.
    _unload_state_providers(spark)
    spark.stop()
    print(line, flush=True)


if __name__ == "__main__":
    main()
