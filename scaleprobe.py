#!/usr/bin/env python
"""10x scale probe (VERDICT r07 #6): synthesize a ~10x replica of the sf0.1
fixtures in a temp dir and demonstrate — with measurements, not claims —
that the heaviest catalog entries scale ~linearly with UNCHANGED plans.

Usage: python scaleprobe.py [round_number]   (writes SCALEPROBE_r{NN}.json)

Every round's verdict extrapolates the 100 TB story from sf0.1 evidence;
this probe closes one decade of that gap per run. No oracle — correctness
at scale is the scalecheck gate's job; this records per-entry
(rows, seconds, ratio, plan-fingerprint-unchanged) rows.

Scaled-fixture construction (deterministic, never touches /root/testdata):

- ``events`` x10: copy k shifts event_id / user_id / ts by disjoint strides,
  so global (ts, event_id) monotonicity — the replay-order contract the
  streaming entries assert — is preserved, key cardinality grows 10x (real
  state-store pressure, not just 10x ops per key), and chunked replays cut
  at the same relative positions.
- ``documents`` x10: copy k shifts doc_id AND rewrites every token with a
  per-copy suffix — a BIJECTIVE token rename, so each copy's shingle sets
  (word 3-grams) are isomorphic to the original (intra-copy pair graph
  exactly replicated) while sharing zero shingles across copies (no
  fabricated quadratic cross-copy near-dup blowup that would fail the
  linearity assertion for reasons the engine doesn't own).
- ``lineitem`` x10: copy k shifts l_orderkey; measures scan+agg linearity.
- ``embeddings`` x10: copy k shifts vec_id and multiplies each dimension by
  a deterministic per-(copy, dim) sign — an exact ISOMETRY (every
  intra-copy cosine, norm, LSH-bucket structure is preserved up to the
  hyperplane draw) while cross-copy cosines collapse to ~N(0, 1/sqrt(d)),
  so no fabricated cross-copy near-dups reach any similarity threshold.
- every other table is symlinked unscaled (dimension tables don't grow 10x
  when a corpus does).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_states_spark import lifetime  # noqa: E402
from spark_states_spark.catalog import QUERIES  # noqa: E402
from spark_states_spark.session import build_session  # noqa: E402
from spark_states_spark.sources.tables import TABLES, table_path  # noqa: E402

_ROOT = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.environ.get("SPARK_GRAFT_SCALEPROBE_BASE", "/root/testdata/sf0.1")
FACTOR = int(os.environ.get("SPARK_GRAFT_SCALEPROBE_FACTOR", "10"))
# Linearity slack: fixed per-query overhead (session, drain polling, Python
# worker spin-up) inflates small-denominator ratios, and best-of-1 timings
# on a shared box are noisy — a 10x data ratio is "linear enough" anywhere
# under 2x that. Anything past it is flagged superlinear.
SLACK = 2.0

SCALED_TABLES = ("events", "documents", "lineitem", "embeddings")
# Spot probes at extreme factors (e.g. 1000x on the events-driven
# stateful entries) scale only the tables their entry subset reads;
# everything else is symlinked unscaled.
_tables = os.environ.get("SPARK_GRAFT_SCALEPROBE_TABLES")
if _tables:
    SCALED_TABLES = tuple(
        t for t in SCALED_TABLES if t in _tables.split(",")
    )

# The heaviest Spark-cost entries from the scalecheck series (one per
# distinct execution shape): iterative CC, the LSH pair generators, the
# shared streaming drains, the stateful aggregation, the grouped-Pandas
# surface and its JVM sibling, and the pure scan+agg baseline.
PROBE_ENTRIES = [
    "q1_pricing_summary",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard",
    # r13: the exact prefix-filtered sibling — replicas rewrite every
    # token per copy, so cross-copy Jaccard is 0 and output scales
    # linearly; candidate pressure (the quadratic term prefix filtering
    # exists to bound) grows within-copy only.
    "dedup_prefix_filter_jaccard",
    "dedup_cluster_connected_components",
    "streaming_hourly_agg_update",
    "streaming_funnel_stages",
    "keyed_state_wallclock_finite_bounds",
    "keyed_state_ttl_lazy_bounds",
    # r09: the grouped-Pandas `user_gap_median` no longer occupies a probe
    # slot (VERDICT r08 #2: its crossing-cost measurement vs the builtin
    # sibling is recorded — 26× at 100×, BASELINE.md); the JVM spelling
    # keeps the decade coverage for the gap-median shape.
    "user_gap_median_builtin",
    # vector-search family (VERDICT r08 #2): bounded-query brute force,
    # both ANN variants, and the near-dup pair generator vs a growing
    # corpus. The top-k entries' query set is the bounded copy-0 prefix,
    # so their OUTPUT is factor-independent while the scanned corpus
    # grows; dedup_embedding_cosine's output is NOT — see
    # SEMANTIC_OUTPUT_ENTRIES.
    "similarity_cosine_topk",
    "similarity_lsh_ann",
    "similarity_ivf_ann",
    "dedup_embedding_cosine",
    # r10 (VERDICT r09 #1): the one stateful shape never measured at a
    # decade — the stream-stream interval join buffers BOTH sides' state
    # inside the watermark (the full-outer variant additionally tracks
    # both null-extension frontiers), and the chained agg runs two
    # stateful operators in one query. Events replicas scale key
    # cardinality AND the time span, so join-state pressure and live
    # windows both grow with the factor.
    "streaming_interval_join_full_outer",
    "streaming_chained_agg_daily",
    # r10 follow-through: the last two stateful shapes without a measured
    # decade — session-window merge state (append-mode production recipe)
    # and the within-watermark dedup seen-set. With these, EVERY stateful
    # family (tumbling/sliding agg, session, dedup, join, chained,
    # funnel, arbitrary keyed state) has two measured decades.
    "streaming_session_window_append",
    "streaming_dedup_within_watermark",
    # r10 catalog addition: the fixed-point PageRank power iteration — the
    # probe's first iterative-JOIN batch shape besides connected
    # components. Events replicas stride user_id, so blocks (and edges)
    # grow linearly with the factor; expected ~linear with unchanged plans
    # (per-iteration equi-joins on the vertex key).
    "graph_pagerank_fixedpoint",
]

# Entries whose OUTPUT cardinality is superlinear in corpus size by the
# operator's own semantics, not by engine inefficiency: at a 0.4 cosine
# threshold in 64 dims, UNRELATED vectors collide in the distribution tail
# at rate ~N^2 x P(cos >= 0.4) (sign-flip isometry replicas measured 301
# cross-copy tail pairs at 3x small-fixture scale — r08's reason for
# excluding the entry outright). Probing it anyway (VERDICT r08 #2) with an
# honest yardstick: engine work is Omega(output rows), so linearity is
# judged against max(input growth, OUTPUT growth) x SLACK — time tracking
# its own result size is the engine doing necessary work; time outgrowing
# BOTH input and output is the real alarm. The measured rows ratio is
# recorded so the artifact shows which basis applied.
SEMANTIC_OUTPUT_ENTRIES = frozenset({"dedup_embedding_cosine"})

# Optional subset filter for partial decades (the wall-clock drain's stall
# deadline scales with input size since r08, so the full list runs at any
# factor; the knob remains for quick targeted probes).
_subset = os.environ.get("SPARK_GRAFT_SCALEPROBE_ENTRIES")
if _subset:
    PROBE_ENTRIES = [q for q in PROBE_ENTRIES if q in _subset.split(",")]


def build_scaled_dir(spark, base_dir: str, out_dir: str, factor: int) -> None:
    from pyspark.sql import functions as F

    # Write micros timestamps like the driver fixtures: Spark 4.1 defaults
    # to TIMESTAMP_NANOS output here, which round-trips inconsistently
    # through the pyarrow chunk staging + nanosAsLong batch inference the
    # streaming entries use (batch infers timestamp, vectorized stream
    # reader sees plain INT64 → FAILED_READ_FILE on every chunked replay).
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        if name in SCALED_TABLES:
            continue
        os.symlink(table_path(base_dir, name), table_path(out_dir, name))

    # Normalize ts through with_event_time (ADVICE r08): under the legacy
    # TIMESTAMP(NANOS)+nanosAsLong layout ts reads as int64 nanoseconds, and
    # a raw long→timestamp cast interprets it as SECONDS — garbage strides
    # for every copy. with_event_time branches on the layout.
    from spark_states_spark.sources.tables import with_event_time

    if "events" in SCALED_TABLES:
        _build_events(spark, base_dir, out_dir, factor, with_event_time)
    if "documents" in SCALED_TABLES:
        _build_documents(spark, base_dir, out_dir, factor)
    if "embeddings" in SCALED_TABLES:
        _build_embeddings(spark, base_dir, out_dir, factor)
    if "lineitem" in SCALED_TABLES:
        _build_lineitem(spark, base_dir, out_dir, factor)


def _build_events(spark, base_dir, out_dir, factor, with_event_time) -> None:
    from pyspark.sql import functions as F

    ev = with_event_time(spark.read.parquet(table_path(base_dir, "events")))
    stats = ev.agg(
        F.max("event_id").alias("max_id"),
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("lo_us"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("hi_us"),
        F.max("user_id").alias("max_uid"),
    ).collect()[0]
    id_stride = int(stats.max_id) + 1
    ts_stride_us = int(stats.hi_us - stats.lo_us) + 3_600_000_000
    uid_stride = int(stats.max_uid) + 1
    copies = [
        ev.select(
            (F.col("event_id") + F.lit(k * id_stride)).alias("event_id"),
            F.timestamp_micros(
                F.unix_micros(F.col("ts").cast("timestamp"))
                + F.lit(k * ts_stride_us)
            ).alias("ts"),
            (F.col("user_id") + F.lit(k * uid_stride)).alias("user_id"),
            "event_type", "value", "props",
        )
        for k in range(factor)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.parquet(table_path(out_dir, "events"))


def _build_documents(spark, base_dir, out_dir, factor) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(table_path(base_dir, "documents"))
    d_stride = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    copies = []
    for k in range(factor):
        text = (
            F.col("text")
            if k == 0
            else F.regexp_replace("text", r"(\w+)", rf"$1z{k}")
        )
        copies.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * d_stride)).alias("doc_id"),
                text.alias("text"),
                "lang", "source",
            ).withColumn("n_chars", F.length("text").cast("long"))
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.parquet(table_path(out_dir, "documents"))


def _build_embeddings(spark, base_dir, out_dir, factor) -> None:
    from pyspark.sql import functions as F

    emb = spark.read.parquet(table_path(base_dir, "embeddings"))
    v_stride = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    copies = []
    for k in range(factor):
        flipped = (
            F.col("embedding")
            if k == 0
            # Per-(copy, dim) Rademacher sign via hash parity: exact
            # intra-copy isometry, ~zero cross-copy cosine (docstring).
            else F.expr(
                f"transform(embedding, (x, i) -> CASE WHEN "
                f"pmod(hash(i, {k}), 2) = 0 THEN x ELSE -x END)"
            )
        )
        copies.append(
            emb.select(
                (F.col("vec_id") + F.lit(k * v_stride)).alias("vec_id"),
                flipped.alias("embedding"),
                "label",
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.parquet(table_path(out_dir, "embeddings"))


def _build_lineitem(spark, base_dir, out_dir, factor) -> None:
    from pyspark.sql import functions as F

    li = spark.read.parquet(table_path(base_dir, "lineitem"))
    l_stride = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    others = [c for c in li.columns if c != "l_orderkey"]
    copies = [
        li.select(
            (F.col("l_orderkey") + F.lit(k * l_stride)).alias("l_orderkey"),
            *others,
        )
        for k in range(factor)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.parquet(table_path(out_dir, "lineitem"))


def plan_fingerprint(df) -> str:
    """Operator-shape fingerprint of the physical plan: the sequence of
    node names with ids/literals/paths stripped, so 1x and 10x plans
    compare equal iff Catalyst picked the same operator tree (a 10x input
    flipping a join strategy or dropping a pushed filter shows up here).
    Streaming entries return sink-read frames, so their fingerprint covers
    the post-drain plan only — their scale signal is the timing row."""
    txt = df._jdf.queryExecution().simpleString()
    ops = re.findall(r"(?:^|\+- |:- |: +|\* )([A-Z][A-Za-z]+)", txt, re.M)
    return ">".join(ops)


# Plan nodes that MAY legitimately differ between 1x and 10x: join-strategy
# machinery AQE/statistics are SUPPOSED to re-pick as inputs outgrow the
# broadcast threshold (broadcast→sort-merge is the correct 10x behavior, not
# a regression), plus neutral plumbing whose count rides along with it.
# Load-bearing nodes (FileScan, Generate, aggregates, Filter, Window, the
# Python evals) must match exactly.
_STRATEGY_NODES = frozenset({
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "BroadcastExchange", "Exchange", "Sort",
    "AQEShuffleRead", "ShuffleQueryStage", "BroadcastQueryStage",
    "ResultQueryStage", "TableCacheQueryStage", "AdaptiveSparkPlan",
    "ReusedExchange", "ReusedSubquery", "InMemoryTableScan",
    "InMemoryRelation", "Project", "ColumnarToRow", "WholeStageCodegen",
})


# Entries whose OPERATOR code itself switches plan shape on data size — the
# documented adaptive tiers, not Catalyst strategy churn. Their 1x-vs-10x
# plan deltas are recorded and labeled, never counted structural.
_KV_SINK_TIER_NOTE = (
    "size-gated drain sink (streaming/queries.py::_kv_sink): past "
    "_KV_SCALE_ROWS the per-get output sinks to a distributed exactly-once "
    "parquet dir instead of a driver-side memory view (65-80% of entry "
    "time at 100x, BASELINE.md r09), so the post-drain read flips "
    "LocalTableScan -> FileScan — the documented scale tier activating; "
    "sink equivalence is value-pinned in test_streaming_modes"
)
_FANOUT_TIER_NOTE = (
    "scale-adaptive scan fan-out (sources/tables.py::load_table_fanned, "
    "r14): when the source's native split count (parquet row groups) is "
    "below min(cores, rows/32) — true for the single-row-group fixture "
    "and small replicas — a keyed repartition parallelizes the "
    "compute-bound map side; once a replica carries enough part files "
    "(~cores), the helper structurally no-ops and the Exchange vanishes "
    "— the documented no-op-at-scale contract activating "
    "(tests/test_fanout.py pins it)"
)
ADAPTIVE_PLAN_ENTRIES = {
    "dedup_minhash_lsh_pairs": (
        "two-tier salted_pair_join (functions/skew.py): past "
        "_BAND_BUCKET_CAP the hot-bucket probe pre-pass runs and the "
        "signature table is cached — the documented scale tier activating"
        "; also " + _FANOUT_TIER_NOTE
    ),
    "q1_pricing_summary": _FANOUT_TIER_NOTE,
    "dedup_ngram_jaccard": _FANOUT_TIER_NOTE,
    "dedup_prefix_filter_jaccard": _FANOUT_TIER_NOTE,
    "dedup_cluster_connected_components": _FANOUT_TIER_NOTE,
    "similarity_cosine_topk": _FANOUT_TIER_NOTE,
    "similarity_lsh_ann": _FANOUT_TIER_NOTE,
    # (the non-probed drain siblings keyed_state_ttl_per_query /
    # keyed_state_wallclock_infinite share the same tier via the shared
    # drains; only probed entries are listed here — test_scaleprobe_infra
    # pins ADAPTIVE_PLAN_ENTRIES ⊆ PROBE_ENTRIES)
    "keyed_state_ttl_lazy_bounds": _KV_SINK_TIER_NOTE,
    "keyed_state_wallclock_finite_bounds": _KV_SINK_TIER_NOTE,
    "streaming_interval_join_full_outer": (
        "size-gated join sink (streaming/queries.py::_ij_sink, r10): the "
        "interval joins' output is O(input rows), so past _KV_SCALE_ROWS "
        "the drain sinks to a distributed exactly-once parquet dir instead "
        "of a driver-side memory view (the same tier as _kv_sink, same "
        "LocalTableScan -> FileScan flip in the post-drain read); state "
        "partitions scale with input via _ij_state_parts"
    ),
    "streaming_session_window_append": (
        "size-gated sink (one row per closed session = O(input); same "
        "_ij_sink tier and FileScan flip as the interval joins, r10)"
    ),
    "streaming_dedup_within_watermark": (
        "size-gated sink (pre-aggregation output is one row per distinct "
        "(type, user, day) = grows with input; same _ij_sink tier, r10)"
    ),
    "dedup_embedding_cosine": (
        "triangle-block salting (functions/skew.py::with_triangle_blocks): "
        "past _GEMM_BUCKET_CAP the hot-cell count pre-pass + salted block "
        "fan-out activate (extra Generate/Scan/Exchange), bounding the "
        "per-task GEMM — the documented scale tier, same family as the "
        "minhash tier (plus AQE broadcast→SMJ flips riding along)"
    ),
}


def plan_delta_kind(base: str, scaled: str, entry: str | None = None) -> str:
    """'same' | 'adaptive_tier' (the entry's own documented data-size tier
    switch) | 'join_strategy' (all differing node names are strategy
    machinery — AQE's adaptive scale path working) | 'structural' (a
    load-bearing node appeared/vanished — the probe's real alarm)."""
    if base == scaled:
        return "same"
    if entry in ADAPTIVE_PLAN_ENTRIES:
        return "adaptive_tier"
    from collections import Counter

    b, s = Counter(base.split(">")), Counter(scaled.split(">"))
    differing = {n for n in (b | s) if b[n] != s[n]}
    return "join_strategy" if differing <= _STRATEGY_NODES else "structural"


def previous_probe_entries(
    rnd: int, factor: int, root: str = _ROOT
) -> dict[str, dict]:
    """This factor's per-entry rows from the newest prior-round artifact
    (empty when none). Feeds base_sanity (1x bases) and the per-entry
    ratio-spread adjudication (VERDICT r10 #2)."""
    import glob

    tag = "" if factor == 10 else f"{factor}x"
    best: tuple[int, str] | None = None
    for p in glob.glob(os.path.join(root, f"SCALEPROBE{tag}_r*.json")):
        m = re.search(rf"SCALEPROBE{tag}_r(\d+)\.json$", p)
        if m and (rnd <= 0 or int(m.group(1)) < rnd):
            if best is None or int(m.group(1)) > best[0]:
                best = (int(m.group(1)), p)
    if best is None:
        return {}
    try:
        with open(best[1]) as fh:
            prev = json.load(fh)
        return {
            k: v
            for k, v in prev.get("entries", {}).items()
            if isinstance(v, dict)
        }
    except (OSError, ValueError):
        return {}


def previous_probe_bases(
    rnd: int, factor: int, root: str = _ROOT
) -> dict[str, float]:
    """This factor's 1x base timings from the newest prior-round artifact
    (empty when none). Used by base_sanity below."""
    return {
        k: v["base_s"]
        for k, v in previous_probe_entries(rnd, factor, root).items()
        if isinstance(v.get("base_s"), (int, float))
    }


def base_sanity(
    bases: dict[str, float],
    prev_bases: dict[str, float],
    floor_s: float = 0.5,
    min_common: int = 5,
    threshold: float = 2.0,
) -> dict | None:
    """Contaminated-run detector (r10 lesson, codified): a probe whose 1x
    pass ran during heavy ambient IO (fixture writeback, a previous scaled
    dir's rmtree) inflates every base 2-5x, which UNDERSTATES all the
    ratios the probe exists to measure — the dangerous direction, since it
    makes a superlinear entry look sublinear. The r10 first 100x run hit
    exactly this (median base ratio ~3x vs r09; q1 0.63 s vs 0.94, but
    gap_median_builtin 3.36 s vs 0.57) and was discarded by hand; this
    stamps the adjudication into the artifact instead. Median ratio of
    this run's 1x bases vs the previous round's recorded bases over the
    common entries (both sides >= floor); ``contaminated`` past the
    threshold — normal cross-round box noise is <= ~1.3x. None when too
    few comparable entries exist."""
    import statistics

    ratios = [
        cur / old
        for name, cur in bases.items()
        if (old := prev_bases.get(name)) is not None
        and cur >= floor_s
        and old >= floor_s
    ]
    if len(ratios) < min_common:
        return None
    med = round(statistics.median(ratios), 2)
    return {
        "median_base_ratio_vs_prev": med,
        "n_common": len(ratios),
        "contaminated": med > threshold,
    }


# Per-entry ratio-spread tripwire (VERDICT r10 #2): the 100x wall-clock TTL
# entry recorded 6.07x and 17.94x on the SAME head — nothing in the artifact
# adjudicated the spread the way bench's tripwire->isolated_s does. When an
# entry's ratio moves more than _SPREAD_RATIO in either direction vs the
# previous round's same-factor artifact, re-run BOTH sides isolated
# best-of-2 and stamp isolated_ratio into the row. Bounded: at most
# _MAX_SPREAD_ADJUDICATIONS entries (worst drift first); entries whose
# scaled side exceeds _ADJUDICATE_MAX_SCALED_S fall through to the
# once-per-run single-pass exemption below instead of best-of-2 (a
# best-of-2 re-run of a 10-minute 1000x drain would double the probe's
# wall for a number the three-decade series already brackets).
_SPREAD_RATIO = 2.0
_MAX_SPREAD_ADJUDICATIONS = 3
_ADJUDICATE_MAX_SCALED_S = 120.0
# Over-budget drifts used to skip adjudication entirely, leaving the
# artifact's own mechanism blind exactly on its slowest entries (r11: the
# 1000x session-append drift 43.3x -> 87.6x went unadjudicated because its
# 333.7 s scaled side exceeded the 120 s best-of-2 budget — VERDICT r11
# #3). The worst over-budget drift per run now gets a SINGLE isolated run
# per side (not best-of-2) under a hard ceiling, so one slow entry costs
# one extra scaled-side pass, never two, and an hour-long pathological
# entry still can't eat the probe.
_MAX_OVERBUDGET_ADJUDICATIONS = 1
_OVERBUDGET_CEILING_S = 420.0


def isolated_probe_s(spark, name: str, sf_dir: str, n_runs: int = 2) -> float:
    """Best-of-N isolated re-measurement of one probe entry (build +
    count — the same composition as the sweep). Memo contract follows
    scalecheck.isolated_spark_s: the entry's shared-drain memos are
    cleared before EVERY run including the first, so a drain carrier is
    measured as first-touch each time rather than as a memo read."""
    from bench import _clear_entry_memos, _unload_state_providers

    best = float("inf")
    for _ in range(n_runs):
        spark.catalog.clearCache()
        _unload_state_providers(spark)
        _clear_entry_memos(name)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        df.count()
        best = min(best, time.perf_counter() - t0)
    return best


def adjudicate_spread(
    spark, rows: dict[str, dict], prev: dict[str, dict],
    base_dir: str, scaled_dir: str,
) -> int:
    """Stamp isolated best-of-2 re-measurements into rows whose ratio
    drifted >_SPREAD_RATIO vs the previous same-factor artifact. Returns
    the number adjudicated. Mutates ``rows`` in place; never raises (the
    sweep's numbers are already recorded — adjudication is advisory)."""
    drifted: list[tuple[float, str]] = []
    overbudget: list[tuple[float, str]] = []
    for name, r in rows.items():
        # Compare against the previous round's ADJUDICATED number when one
        # exists: once a spread is resolved by an isolated re-run, that —
        # not the noisy sweep ratio it corrected — is the baseline, else
        # the motivating case re-triggers adjudication every round and a
        # real drift vs the adjudicated value can hide near the old noise.
        prev_row = prev.get(name, {})
        pr = prev_row.get("isolated_ratio")
        if not isinstance(pr, (int, float)):
            pr = prev_row.get("ratio")
        # scaled_s guard FIRST: a memo-served sweep entry can round its
        # ratio to 0.0, and dividing by it below would crash the probe
        # after hours of work (this function must never raise).
        if (
            r["scaled_s"] < 1.0
            or r["ratio"] <= 0
            or not isinstance(pr, (int, float))
            or pr <= 0
        ):
            continue
        drift = max(r["ratio"] / pr, pr / r["ratio"])
        if drift <= _SPREAD_RATIO:
            continue
        r["prev_ratio"] = pr
        if r["scaled_s"] > _ADJUDICATE_MAX_SCALED_S:
            if r["scaled_s"] <= _OVERBUDGET_CEILING_S:
                overbudget.append((drift, name))
            else:
                r["spread_note"] = (
                    f"ratio drifted {drift:.1f}x vs prev round but scaled "
                    f"side ({r['scaled_s']}s) exceeds even the "
                    f"{_OVERBUDGET_CEILING_S:.0f}s single-run ceiling — "
                    "unadjudicated, read against the other decades"
                )
            continue
        drifted.append((drift, name))
    ranked = sorted(drifted, reverse=True)
    for drift, name in ranked[_MAX_SPREAD_ADJUDICATIONS:]:
        rows[name]["spread_note"] = (
            f"ratio drifted {drift:.1f}x vs prev round but "
            f"{_MAX_SPREAD_ADJUDICATIONS} worse drifts took the re-run "
            "slots this run — unadjudicated"
        )
    n = 0
    for drift, name in ranked[:_MAX_SPREAD_ADJUDICATIONS]:
        try:
            ib = isolated_probe_s(spark, name, base_dir)
            isc = isolated_probe_s(spark, name, scaled_dir)
        except Exception as exc:  # noqa: BLE001 — advisory
            rows[name]["spread_note"] = f"isolated re-run failed: {exc}"
            continue
        rows[name]["isolated_base_s"] = round(ib, 2)
        rows[name]["isolated_scaled_s"] = round(isc, 2)
        rows[name]["isolated_ratio"] = round(isc / max(ib, 0.05), 2)
        rows[name]["spread_note"] = (
            f"sweep ratio drifted {drift:.1f}x vs prev round's "
            f"{rows[name]['prev_ratio']}x; isolated best-of-2 re-run "
            "(memos cleared, both sides) is the adjudicated number"
        )
        print(
            f"  [spread] {name}: sweep {rows[name]['ratio']}x vs prev "
            f"{rows[name]['prev_ratio']}x -> isolated "
            f"{rows[name]['isolated_ratio']}x", flush=True,
        )
        n += 1
    # Over-budget exemption (VERDICT r11 #3): the worst drift whose scaled
    # side sits between the best-of-2 budget and the single-run ceiling
    # gets ONE isolated pass per side — an adjudicated number with
    # single-run noise, explicitly labeled, instead of a blind spot.
    ranked_ob = sorted(overbudget, reverse=True)
    for drift, name in ranked_ob[_MAX_OVERBUDGET_ADJUDICATIONS:]:
        rows[name]["spread_note"] = (
            f"ratio drifted {drift:.1f}x vs prev round; scaled side "
            f"({rows[name]['scaled_s']}s) exceeds the "
            f"{_ADJUDICATE_MAX_SCALED_S:.0f}s re-run budget and "
            f"{_MAX_OVERBUDGET_ADJUDICATIONS} worse over-budget drift(s) "
            "took the single-run exemption — unadjudicated"
        )
    for drift, name in ranked_ob[:_MAX_OVERBUDGET_ADJUDICATIONS]:
        try:
            ib = isolated_probe_s(spark, name, base_dir, n_runs=1)
            isc = isolated_probe_s(spark, name, scaled_dir, n_runs=1)
        except Exception as exc:  # noqa: BLE001 — advisory
            rows[name]["spread_note"] = f"isolated re-run failed: {exc}"
            continue
        rows[name]["isolated_base_s"] = round(ib, 2)
        rows[name]["isolated_scaled_s"] = round(isc, 2)
        rows[name]["isolated_ratio"] = round(isc / max(ib, 0.05), 2)
        rows[name]["spread_note"] = (
            f"sweep ratio drifted {drift:.1f}x vs prev round's "
            f"{rows[name]['prev_ratio']}x; scaled side "
            f"({rows[name]['scaled_s']}s) exceeds the "
            f"{_ADJUDICATE_MAX_SCALED_S:.0f}s best-of-2 budget, so the "
            "once-per-run over-budget exemption ran a SINGLE isolated "
            "pass per side (memos cleared) — adjudicated, read with "
            "single-run noise in mind"
        )
        print(
            f"  [spread/over-budget] {name}: sweep {rows[name]['ratio']}x "
            f"vs prev {rows[name]['prev_ratio']}x -> single-run isolated "
            f"{rows[name]['isolated_ratio']}x", flush=True,
        )
        n += 1
    return n


def probe(spark, sf_dir: str, entries) -> dict[str, dict]:
    out: dict[str, dict] = {}
    from bench import _unload_state_providers, warm_up

    warm_up(spark, sf_dir)
    for name in entries:
        spark.catalog.clearCache()
        _unload_state_providers(spark)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        n = df.count()
        out[name] = {
            "s": round(time.perf_counter() - t0, 2),
            "rows": n,
            "plan": plan_fingerprint(df),
        }
        # Free what the entry pinned (its own lifetime tag; shared drains
        # stay for their other readers) before the next replica.
        lifetime.release(spark, name)
        print(f"  {name}: {out[name]['s']}s ({n} rows)", flush=True)
    return out


def main() -> int:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    # 10x the data needs more than the harness default heap (local mode =
    # one JVM for all 32 tasks); the box has 128 GiB.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    # Engine-path throughput default (r14 Change 2 / ADVICE r14 scoping):
    # see session.py's note on rocksdb.trackTotalNumberOfRows.
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
        "false",
    )
    scaled_dir = tempfile.mkdtemp(prefix="scaleprobe_")
    n_adjudicated = 0
    prev_entries = previous_probe_entries(rnd, FACTOR)
    try:
        # 1x bases come FIRST (VERDICT r10 #3): the replica build is the
        # heaviest IO event of the run, and measuring bases in its
        # writeback shadow inflated them ~1.2-1.35x in r10's 1000x run —
        # UNDERSTATING every ratio. sync + settle so earlier commands'
        # dirty pages don't bleed in either.
        os.sync()
        time.sleep(2)
        print(f"probing 1x ({BASE_DIR}) — before the replica build", flush=True)
        base = probe(spark, BASE_DIR, PROBE_ENTRIES)
        t0 = time.time()
        build_scaled_dir(spark, BASE_DIR, scaled_dir, FACTOR)
        build_s = round(time.time() - t0, 1)
        print(f"built {FACTOR}x fixtures in {build_s}s at {scaled_dir}", flush=True)
        # Same writeback discipline for the SCALED pass: with the bases
        # moved ahead of the build, the scaled probe now starts in the
        # build's flush shadow — which would OVERSTATE ratios (the safe
        # direction, but still wrong numbers and false tripwires at the
        # 1000x decade where the build writes tens of GB).
        os.sync()
        time.sleep(2)
        print(f"probing {FACTOR}x", flush=True)
        scaled = probe(spark, scaled_dir, PROBE_ENTRIES)
        rows = _assemble_rows(base, scaled)
        # Ratio-spread adjudication needs the scaled dir alive — run it
        # before the rmtree.
        n_adjudicated = adjudicate_spread(
            spark, rows, prev_entries, BASE_DIR, scaled_dir
        )
    finally:
        shutil.rmtree(scaled_dir, ignore_errors=True)
        spark.stop()
        # AFTER spark.stop() and guarded: a cleanup failure here must
        # neither leak the 24 GB-heap JVM nor mask a try-block exception.
        # The replica's staged stream-chunks are dead cache the moment the
        # replica is deleted (content-keyed on its path+stat identity): a
        # 1000x run leaves ~1.6 GB per streaming entry behind, and 16 GB
        # of such debris measurably slowed the r12 gate's writeback.
        try:
            from spark_states_spark.sources.tables import purge_staged_chunks

            n_purged = purge_staged_chunks(scaled_dir)
            if n_purged:
                print(f"purged {n_purged} dead staged-chunk cache entries")
        except Exception as exc:  # noqa: BLE001 — cleanup is best-effort
            print(f"staged-chunk purge skipped: {exc}")
    return _write_artifact(rnd, rows, build_s, prev_entries, n_adjudicated)


def _assemble_rows(base: dict, scaled: dict) -> dict[str, dict]:
    rows: dict[str, dict] = {}
    for name in PROBE_ENTRIES:
        b, s = base[name], scaled[name]
        ratio = round(s["s"] / max(b["s"], 0.05), 2)
        basis = float(FACTOR)
        if name in SEMANTIC_OUTPUT_ENTRIES:
            basis = max(basis, s["rows"] / max(b["rows"], 1))
        linear_ok = ratio <= basis * SLACK
        kind = plan_delta_kind(b["plan"], s["plan"], name)
        rows[name] = {
            "base_s": b["s"], "scaled_s": s["s"], "ratio": ratio,
            "base_rows": b["rows"], "scaled_rows": s["rows"],
            "linear_ok": linear_ok, "plan_delta": kind,
        }
        if name in SEMANTIC_OUTPUT_ENTRIES:
            rows[name]["linearity_basis"] = round(basis, 2)
            rows[name]["rows_ratio"] = round(
                s["rows"] / max(b["rows"], 1), 2
            )
            rows[name]["semantic_output_note"] = (
                "output cardinality is superlinear by threshold-tail "
                "semantics (see SEMANTIC_OUTPUT_ENTRIES); linearity judged "
                "vs max(factor, rows_ratio)"
            )
        if kind == "adaptive_tier":
            rows[name]["plan_delta_note"] = ADAPTIVE_PLAN_ENTRIES[name]
        if kind != "same":
            rows[name]["base_plan"] = b["plan"]
            rows[name]["scaled_plan"] = s["plan"]
    return rows


def _write_artifact(
    rnd: int, rows: dict[str, dict], build_s: float,
    prev_entries: dict[str, dict], n_adjudicated: int,
) -> int:
    n_super = sum(1 for r in rows.values() if not r["linear_ok"])
    n_structural = sum(
        1 for r in rows.values() if r["plan_delta"] == "structural"
    )
    n_flips = sum(
        1 for r in rows.values() if r["plan_delta"] == "join_strategy"
    )
    sanity = base_sanity(
        {k: v["base_s"] for k, v in rows.items()},
        {
            k: v["base_s"]
            for k, v in prev_entries.items()
            if isinstance(v.get("base_s"), (int, float))
        },
    )
    result = {
        "base_dir": BASE_DIR,
        "factor": FACTOR,
        "slack": SLACK,
        "build_s": build_s,
        "entries": rows,
        "base_sanity": sanity,
        "n_superlinear": n_super,
        # join_strategy deltas are AQE re-picking broadcast vs sort-merge
        # as the 10x side outgrows the threshold — the DESIRED adaptive
        # behavior; only structural deltas indicate a scale problem.
        "n_join_strategy_flips": n_flips,
        "n_structural_plan_changes": n_structural,
        # >2x round-over-round ratio drifts re-run isolated best-of-2
        # (VERDICT r10 #2) — per-entry detail rides in the rows
        # (prev_ratio / isolated_ratio / spread_note).
        "n_spread_adjudicated": n_adjudicated,
    }
    # The canonical per-round artifact is the 10x run; other decades get a
    # factor-suffixed name so they never clobber it.
    tag = "" if FACTOR == 10 else f"{FACTOR}x"
    out = os.path.join(
        _ROOT,
        f"SCALEPROBE{tag}_r{rnd:02d}.json" if rnd else f"SCALEPROBE{tag}.json",
    )
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1)
    print(f"wrote {out}")
    if sanity and sanity["contaminated"]:
        print(
            "WARN: this run's 1x bases are "
            f"{sanity['median_base_ratio_vs_prev']}x the previous round's "
            "— the 1x pass likely ran on a contaminated box, UNDERSTATING "
            "every ratio. Re-run on a quiet box (sync; wait for load < 1) "
            "instead of recording this artifact."
        )
    compact = {
        "metric": "scaleprobe",
        "factor": FACTOR,
        "n_entries": len(rows),
        "n_superlinear": n_super,
        "n_join_strategy_flips": n_flips,
        "n_structural_plan_changes": n_structural,
        "worst_ratio": max(r["ratio"] for r in rows.values()),
        "n_spread_adjudicated": n_adjudicated,
    }
    if sanity is not None:
        compact["base_contaminated"] = sanity["contaminated"]
    print(json.dumps(compact))
    return 1 if (n_super or n_structural) else 0


if __name__ == "__main__":
    raise SystemExit(main())
