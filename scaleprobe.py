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

import harness  # noqa: E402
from spark_states_spark import lifetime  # noqa: E402
from spark_states_spark.sources.tables import TABLES, table_path  # noqa: E402

BASE_DIR = os.environ.get("SPARK_GRAFT_SCALEPROBE_BASE", "/root/testdata/sf0.1")
FACTOR = int(os.environ.get("SPARK_GRAFT_SCALEPROBE_FACTOR", "10"))
# Linearity slack: fixed per-query overhead (session, drain polling, Python
# worker spin-up) inflates small-denominator ratios, and best-of-1 timings
# on a shared box are noisy — a 10x data ratio is "linear enough" anywhere
# under harness.RATIO (2x) that. Anything past it is flagged superlinear.
SLACK = harness.RATIO

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
    "size-gated drain sink (streaming/runner.py::scaled_sink): past "
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
    # (the non-probed drain siblings — keyed_state_ttl_per_query, _strict,
    # _infinite, _stateless and keyed_state_wallclock_infinite — share the
    # same tier via the shared drains; only probed entries are listed
    # here — test_scaleprobe_infra pins ADAPTIVE_PLAN_ENTRIES ⊆
    # PROBE_ENTRIES)
    "keyed_state_ttl_lazy_bounds": _KV_SINK_TIER_NOTE,
    "keyed_state_wallclock_finite_bounds": _KV_SINK_TIER_NOTE,
    "streaming_interval_join_full_outer": (
        "size-gated join sink (streaming/runner.py::scaled_sink, r10): the "
        "interval joins' output is O(input rows), so past _KV_SCALE_ROWS "
        "the drain sinks to a distributed exactly-once parquet dir instead "
        "of a driver-side memory view (the same tier as the KV drains, same "
        "LocalTableScan -> FileScan flip in the post-drain read); state "
        "partitions scale with input via runner.state_parts"
    ),
    "streaming_session_window_append": (
        "size-gated sink (one row per closed session = O(input); same "
        "scaled_sink tier and FileScan flip as the interval joins, r10)"
    ),
    "streaming_dedup_within_watermark": (
        "size-gated sink (pre-aggregation output is one row per distinct "
        "(type, user, day) = grows with input; same scaled_sink tier, r10)"
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


def _ratio(scaled_s: float, base_s: float) -> float:
    return round(scaled_s / max(base_s, 0.05), 2)


def probe(spark, sf_dir: str, entries) -> dict[str, dict]:
    """One timed build + count per entry (memo state kept, as in a sweep),
    with the row count and plan fingerprint."""
    harness.warm_up(spark, sf_dir)
    out: dict[str, dict] = {}
    for name in entries:
        s, df, n = harness.best_of(
            spark, name, sf_dir, "count", runs=1, keep_first_memos=True)
        out[name] = {"s": round(s, 2), "rows": n, "plan": plan_fingerprint(df)}
        # Free what the entry pinned (its own lifetime tag; shared drains
        # stay for their other readers) before the next replica.
        lifetime.release(spark, name)
        print(f"  {name}: {out[name]['s']}s ({n} rows)", flush=True)
    return out


def previous_probe_entries(
    rnd: int, factor: int, root: str = harness.ROOT
) -> dict[str, dict]:
    """This factor's per-entry rows from the newest prior-round artifact
    (empty when none)."""
    found = harness.newest_artifact(
        "SCALEPROBE" if factor == 10 else f"SCALEPROBE{factor}x", rnd, root)
    entries = found[1].get("entries") if found else None
    return {k: v for k, v in (entries or {}).items() if isinstance(v, dict)}


def base_sanity(bases: dict, prev_bases: dict) -> dict | None:
    """Contaminated-run detector (r10): a 1x pass run during heavy ambient
    IO (fixture writeback, a previous replica's rmtree) inflates every base
    2-5x, which UNDERSTATES every ratio — the dangerous direction, since it
    makes a superlinear entry look sublinear. The median 1x-base ratio vs
    the previous round's bases; normal cross-round noise is <= ~1.3x."""
    med = harness.median_ratio(bases, prev_bases)
    if med is None:
        return None
    return {"median_base_ratio_vs_prev": med, "contaminated": med > harness.RATIO}


def adjudicate_spread(
    spark, rows: dict[str, dict], prev: dict[str, dict],
    base_dir: str, scaled_dir: str,
) -> list[dict]:
    """Re-run both sides isolated for rows whose ratio drifted more than
    harness.RATIO either way vs the previous same-factor artifact (the 100x
    wall-clock TTL entry once recorded 6.07x and 17.94x on the same code),
    and stamp ``prev_ratio``, ``isolated_*`` or ``note``
    into the row. The baseline is the previous ADJUDICATED ratio when there
    is one: else the motivating case re-triggers every round, and a real
    drift vs the adjudicated value can hide near the old noise."""

    def rerun(name: str) -> dict:
        ib = harness.best_of(spark, name, base_dir, "count")[0]
        isc = harness.best_of(spark, name, scaled_dir, "count")[0]
        return {"isolated_base_s": round(ib, 2),
                "isolated_scaled_s": round(isc, 2),
                "isolated_ratio": _ratio(isc, ib)}

    prev_ratio = {
        k: v["isolated_ratio"] if isinstance(v.get("isolated_ratio"), (int, float))
        else v.get("ratio")
        for k, v in prev.items()
    }
    adj = harness.adjudicate(
        {k: r["ratio"] for k, r in rows.items()}, prev_ratio, rerun,
        swept={k: r["scaled_s"] for k, r in rows.items()}, two_sided=True,
    )
    for a in adj:
        row = rows[a["entry"]]
        row["prev_ratio"] = a["prev"]
        row.update({k: v for k, v in a.items() if k.startswith("isolated") or k == "note"})
        print(f"  [spread] {a['entry']}: sweep {row['ratio']}x vs prev "
              f"{a['prev']}x -> {row.get('isolated_ratio', row.get('note'))}",
              flush=True)
    return adj


def main() -> int:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    # 10x the data needs more than the harness default heap (local mode =
    # one JVM for all tasks).
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = harness.engine_session()
    n_cpus = harness.cpus(spark)
    scaled_dir = tempfile.mkdtemp(prefix="scaleprobe_")
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
        # Same writeback discipline for the SCALED pass, which now starts in
        # the build's flush shadow — that would OVERSTATE ratios.
        os.sync()
        time.sleep(2)
        print(f"probing {FACTOR}x", flush=True)
        scaled = probe(spark, scaled_dir, PROBE_ENTRIES)
        rows = _assemble_rows(base, scaled)
        # Needs the scaled dir alive — run it before the rmtree.
        adj = adjudicate_spread(spark, rows, prev_entries, BASE_DIR, scaled_dir)
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
    sanity = base_sanity(
        {k: v["base_s"] for k, v in rows.items()},
        {k: v.get("base_s") for k, v in prev_entries.items()},
    )
    counts = {
        "n_superlinear": sum(1 for r in rows.values() if not r["linear_ok"]),
        # join_strategy deltas are AQE re-picking broadcast vs sort-merge
        # as the scaled side outgrows the threshold — the DESIRED adaptive
        # behavior; only structural deltas indicate a scale problem.
        "n_join_strategy_flips": sum(
            1 for r in rows.values() if r["plan_delta"] == "join_strategy"),
        "n_structural_plan_changes": sum(
            1 for r in rows.values() if r["plan_delta"] == "structural"),
        "n_flagged": len(adj),
        "n_adjudicated": sum(1 for a in adj if "note" not in a),
    }
    result = {
        "base_dir": BASE_DIR, "factor": FACTOR, "slack": SLACK, "cpus": n_cpus,
        "build_s": build_s, "entries": rows, "base_sanity": sanity, **counts,
    }
    # The canonical per-round artifact is the 10x run; other decades get a
    # factor-suffixed name so they never clobber it.
    tag = "" if FACTOR == 10 else f"{FACTOR}x"
    out = os.path.join(
        harness.ROOT,
        f"SCALEPROBE{tag}_r{rnd:02d}.json" if rnd else f"SCALEPROBE{tag}.json",
    )
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1)
    print(f"wrote {out}")
    if sanity and sanity["contaminated"]:
        print(
            f"WARN: this run's 1x bases are {sanity['median_base_ratio_vs_prev']}x "
            "the previous round's — the "
            "1x pass likely ran on a contaminated box, UNDERSTATING every "
            "ratio. Re-run on a quiet box (sync; wait for load < 1) instead "
            "of recording this artifact."
        )
    compact = {"metric": "scaleprobe", "factor": FACTOR, "cpus": n_cpus,
               "n_entries": len(rows), **counts,
               "worst_ratio": max(r["ratio"] for r in rows.values())}
    if sanity is not None:
        compact["base_contaminated"] = sanity["contaminated"]
    print(harness.fit_line(compact))
    return 1 if (counts["n_superlinear"] or counts["n_structural_plan_changes"]) else 0


def _assemble_rows(base: dict, scaled: dict) -> dict[str, dict]:
    rows: dict[str, dict] = {}
    for name in PROBE_ENTRIES:
        b, s = base[name], scaled[name]
        ratio = _ratio(s["s"], b["s"])
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


if __name__ == "__main__":
    raise SystemExit(main())
