"""Distributed exact order statistics: median without a global sort.

The naive exact median is a total sort (or a single-partition
``percentile``) — the one operation that cannot scale: a global sort of
100 TB exists only to discard all but one row. The classic distributed
answer is iterative range narrowing: histogram the value range (a
map-side-combined ≤B-row aggregate), locate which bin holds each target
rank, then resolve the exact order statistic INSIDE that bin only — a
partition-bounded sort of ~N/B rows. One narrowing round suffices at
fixture scale; at 100 TB the same two stages repeat (narrow the bin,
re-histogram) or B grows — the shape is unchanged.

Correctness does not depend on float bin arithmetic: binning by
``floor((v - lo)/w)`` is monotone in ``v``, so bin boundaries partition
the order exactly wherever the doubles land; only the FINAL median value
is oracle-compared (DuckDB ``median`` = quantile_cont(0.5), which for
even N is the average of the two middle values — the same two order
statistics this computes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import register
from ..lifetime import checkpoint
from ..sources import load_table

_BINS = 1024


@register(
    "exact_median_two_pass",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           median(l_extendedprice) AS median_price
    FROM lineitem
    """,
)
def exact_median_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median of ``l_extendedprice`` via histogram narrowing + in-bin
    order statistics — no global sort, no single-partition percentile.

    Plan shape: scan 1 → 1-row (lo, hi, N) extent; scan 2 → ≤1024-row bin
    histogram (map-side combined); the cumulative walk and rank location
    run over the HISTOGRAM (bounded, the sanctioned single-partition
    window); scan 3 touches only the 1–2 target bins (~N/B rows), ranks
    them per-bin, and picks the two middle order statistics. Even-N
    median = avg of the two — one IEEE division, oracle-identical.
    """
    items = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    return exact_median(items).select(
        "n", F.col("median").alias("median_price")
    )


def exact_median(items: DataFrame) -> DataFrame:
    """Histogram-narrowed exact median of column ``v``; returns a 1-row
    (n, median) frame. Odd/even/duplicate/random cases differentially
    pinned against a true sort in tests/test_orderstats.py."""
    ext = items.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"), F.count("*").alias("n")
    )
    # Degenerate guard: hi == lo (all values equal) makes the bin width 0
    # and the division NaN — pin the width to 1 so everything lands in
    # bin 0 and the order statistics fall out trivially.
    width = F.when(
        F.col("hi") == F.col("lo"), F.lit(1.0)
    ).otherwise((F.col("hi") - F.col("lo")) / _BINS)
    binned = items.crossJoin(F.broadcast(ext)).select(
        "v",
        "n",
        F.least(
            F.floor((F.col("v") - F.col("lo")) / width), F.lit(_BINS - 1)
        )
        .cast("int")
        .alias("bin"),
    )
    hist = binned.groupBy("bin", "n").agg(F.count("*").alias("cnt"))
    # Bounded single-partition window: the histogram is ≤ _BINS rows by
    # construction, whatever N is.
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0))
    ).withColumn("cum_before", F.col("cum") - F.col("cnt"))
    # The two middle ranks (equal when N is odd).
    ranks = ext.select(
        F.explode(F.array((F.col("n") + 1) / 2, (F.col("n") + 2) / 2)).alias("kd")
    ).select(F.col("kd").cast("long").alias("k"))
    # 2-row × ≤1024-row bounded range join: which bin holds each rank.
    target = (
        F.broadcast(ranks)
        .join(
            cum,
            (F.col("k") > F.col("cum_before")) & (F.col("k") <= F.col("cum")),
        )
        .select("k", "bin", (F.col("k") - F.col("cum_before")).alias("offset"))
    )
    # Resolve order statistics inside the target bins only. DISTINCT
    # matters: for odd N the two middle ranks coincide, and a duplicated
    # (bin, offset) row would double every in-bin row and corrupt the
    # rank numbering (avg over the single deduped pick is still the
    # median — DuckDB's odd-N median is that middle value).
    in_bin = binned.join(
        F.broadcast(target.select("bin", "offset").distinct()), "bin"
    ).withColumn(
        "rn",
        F.row_number().over(W.partitionBy("bin", "offset").orderBy("v")),
    )
    picked = in_bin.where(F.col("rn") == F.col("offset")).select("n", "v")
    return picked.groupBy("n").agg(F.avg("v").alias("median"))


# --- arbitrary exact quantiles (same narrowing machinery) -------------------

_QUANTILE_PCTS = (25, 50, 75, 90, 99)


@register(
    "exact_quantiles_multi",
    # The oracle names the SAME order statistic explicitly (k = ceil(p/100
    # * n), the lower/disc convention) via row_number — deliberately NOT an
    # engine quantile function, whose rank/interpolation conventions differ
    # across engines and versions.
    oracle=f"""
    WITH r AS (
      SELECT l_extendedprice AS v,
             row_number() OVER (ORDER BY l_extendedprice) AS rn,
             count(*) OVER () AS n
      FROM lineitem
    )
    SELECT p.pct, r.v AS value
    FROM (VALUES {", ".join(f"({p})" for p in _QUANTILE_PCTS)}) p(pct)
    JOIN r ON r.rn = CAST(ceil(p.pct * r.n / 100.0) AS BIGINT)
    """,
)
def exact_quantiles_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p25/p50/p75/p90/p99 of ``l_extendedprice`` in ONE run of the
    histogram-narrowing machinery: all five ranks locate their bins against
    the same ≤1024-row histogram, and the in-bin resolution ranks each
    needed bin once — the marginal cost of an extra quantile is one more
    2-row join row, not another pass. (The oracle, by contrast, sorts the
    world — that contrast IS the point of the operator.)

    Rank convention: k = ceil(p/100 · n), the discontinuous (lower) order
    statistic — stated explicitly in both engines rather than delegated to
    quantile functions with divergent interpolation rules.

    r15 note: the anomaly_mad_outliers-style input materialization was
    A/B'd here and LOST 4/4 order-balanced cycles (1.03-1.29 vs
    0.91-1.09 s) — this entry's input is the 600 K-row lineitem price
    column, and re-scanning the single pruned parquet column is cheaper
    than materializing it. Left on the scan path.
    """
    items = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    ext = items.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"), F.count("*").alias("n")
    )
    pcts = F.array(*[F.lit(p) for p in _QUANTILE_PCTS])
    ranks = (
        ext.select("n", F.explode(pcts).alias("pct"))
        .select("pct", F.ceil(F.col("pct") * F.col("n") / 100.0).alias("k"))
    )
    width = F.when(F.col("hi") == F.col("lo"), F.lit(1.0)).otherwise(
        (F.col("hi") - F.col("lo")) / _BINS
    )
    binned = items.crossJoin(F.broadcast(ext)).select(
        "v",
        F.least(
            F.floor((F.col("v") - F.col("lo")) / width), F.lit(_BINS - 1)
        )
        .cast("int")
        .alias("bin"),
    )
    hist = binned.groupBy("bin").agg(F.count("*").alias("cnt"))
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0))
    ).withColumn("cum_before", F.col("cum") - F.col("cnt"))
    target = (
        F.broadcast(ranks)
        .join(
            cum,
            (F.col("k") > F.col("cum_before")) & (F.col("k") <= F.col("cum")),
        )
        .select("pct", "bin", (F.col("k") - F.col("cum_before")).alias("offset"))
    )
    in_bin = binned.join(
        F.broadcast(target.select("bin", "offset").distinct()), "bin"
    ).withColumn(
        "rn", F.row_number().over(W.partitionBy("bin", "offset").orderBy("v"))
    )
    picked = in_bin.where(F.col("rn") == F.col("offset")).select(
        "bin", "offset", F.col("v").alias("value")
    )
    return (
        target.join(picked, ["bin", "offset"])
        .select(F.col("pct").cast("int"), "value")
    )


@register(
    "exact_median_by_group",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           median(value) AS median_value
    FROM events GROUP BY event_type
    """,
)
def exact_median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact medians (event value per event type) — the
    histogram-narrowing machinery PARTITIONED BY GROUP: every stage keys
    by (group, ...), so all groups' medians resolve in one pass each and
    the windows stay bounded per group (≤B histogram rows per group; the
    in-bin rank partitions by (group, bin, offset)). No global sort, no
    per-group percentile collect — the grouped twin of
    ``exact_median_two_pass``.

    r15 note: the anomaly_mad_outliers-style input materialization was
    A/B'd here and came out order-MIXED (2 wins / 2 losses, order-
    balanced) — one kernel run over ~4 scan references sits at the
    break-even this box cannot resolve. Left on the scan path; the MAD
    entry (two kernel runs + fence scan, 49 references) and the
    winsorized entry (kernel + third clipped-scan reader) are where the
    materialization measurably wins.
    """
    items = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), F.col("value").alias("v")
    )
    ext = _group_extents(items)
    ranks = ext.select(
        "g",
        F.explode(F.array((F.col("n") + 1) / 2, (F.col("n") + 2) / 2)).alias("kd"),
    ).select("g", F.col("kd").cast("long").alias("k"))
    picked = values_at_group_ranks(items, ext, ranks, carry=("n",))
    return (
        picked.groupBy("g", "n")
        .agg(F.avg("v").alias("median_value"))
        .select(F.col("g").alias("event_type"), "n", "median_value")
    )


def _group_extents(items: DataFrame) -> DataFrame:
    """(g, v) → (g, lo, hi, n): per-group value extent + count — the one
    map-side-combined pass both the grid binning and the rank frames need."""
    return items.groupBy("g").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"), F.count("*").alias("n")
    )


def values_at_group_ranks(
    items: DataFrame, ext: DataFrame, ranks: DataFrame,
    carry: tuple = (),
) -> DataFrame:
    """The grouped histogram-narrowing kernel, extracted ONCE: given items
    (g, v), their extents (from ``_group_extents``), and a rank frame
    (g, k 1-based ascending), return the picked (g, *carry, v) rows —
    each group's k-th smallest values — without any per-group global
    sort. ``carry`` names ext columns (constant per group, e.g. ``n``)
    threaded through the binning so callers don't re-join the ext subplan
    (which would re-plan its events scan). Histogram ≤ ``_BINS`` rows per
    group; the in-bin row_number sorts only the target bins. Shared by
    ``exact_median_by_group`` (ranks = the two middle) and
    ``agg_winsorized_mean`` (ranks = ceil(0.1n)/ceil(0.9n)), so the
    grouped narrowing arithmetic cannot diverge between them; the
    UNGROUPED twins (``exact_median``, ``exact_quantiles_multi``) keep
    their specialized 1-row-extent-broadcast shapes deliberately."""
    width = F.when(F.col("hi") == F.col("lo"), F.lit(1.0)).otherwise(
        (F.col("hi") - F.col("lo")) / _BINS
    )
    binned = items.join(F.broadcast(ext), "g").select(
        "g",
        "v",
        *carry,
        F.least(
            F.floor((F.col("v") - F.col("lo")) / width), F.lit(_BINS - 1)
        )
        .cast("int")
        .alias("bin"),
    )
    hist = binned.groupBy("g", "bin", *carry).agg(F.count("*").alias("cnt"))
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            W.partitionBy("g").orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
        ),
    ).withColumn("cum_before", F.col("cum") - F.col("cnt"))
    target = (
        F.broadcast(ranks.withColumnRenamed("g", "rg"))
        .join(
            cum,
            (F.col("rg") == F.col("g"))
            & (F.col("k") > F.col("cum_before"))
            & (F.col("k") <= F.col("cum")),
        )
        .select("g", "bin", (F.col("k") - F.col("cum_before")).alias("offset"))
    )
    in_bin = binned.join(
        F.broadcast(target.distinct()), ["g", "bin"]
    ).withColumn(
        "rn",
        F.row_number().over(W.partitionBy("g", "bin", "offset").orderBy("v")),
    )
    return in_bin.where(F.col("rn") == F.col("offset")).select("g", *carry, "v")


@register(
    "agg_winsorized_mean",
    # The rank spec is explicit (row_number at ceil(0.1n)/ceil(0.9n)) so
    # both engines pick the identical order statistic — no reliance on
    # either engine's quantile_disc rounding convention. The clipped
    # values are always ORIGINAL data values (clamp returns one of v,
    # p10, p90), so the DECIMAL(12,2) summation precedent from the
    # timeseries entries applies unchanged.
    oracle="""
    WITH v AS (SELECT event_type AS g, value AS v FROM events),
    n AS (SELECT g, count(*) AS n FROM v GROUP BY g),
    r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
          FROM v),
    b AS (SELECT r.g, max(n.n) AS n,
                 max(CASE WHEN rn = (n.n + 9) // 10 THEN v END) AS plo,
                 max(CASE WHEN rn = (9 * n.n + 9) // 10 THEN v END) AS phi
          FROM r JOIN n ON n.g = r.g GROUP BY r.g)
    SELECT v.g AS event_type,
           CAST(max(b.n) AS BIGINT) AS n,
           max(b.plo) AS p10,
           max(b.phi) AS p90,
           CAST(sum(CAST(CASE WHEN v.v < b.plo THEN b.plo
                              WHEN v.v > b.phi THEN b.phi
                              ELSE v.v END AS DECIMAL(12,2))) AS DOUBLE)
             / max(b.n) AS winsorized_mean
    FROM v JOIN b ON b.g = v.g
    GROUP BY v.g
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorized mean (outlier-robust aggregation): clip each
    group's values at its exact 10th/90th-percentile order statistics
    (rank ceil(0.1n) / ceil(0.9n)), then average — the robust-statistics
    step a metrics pipeline runs so a single fat-finger value cannot move
    a KPI.

    The clip bounds come from the same histogram-narrowing machinery as
    ``exact_median_by_group`` (per-group ≤B-row histogram, bounded
    rank-to-bin join, in-bin resolution partitioned by (group, bin)) —
    NEVER a per-group global sort, which at 100 TB would put each group's
    entire value set in one partition. The final clipped aggregation is
    one more map-side-combined pass with the 2-value bounds broadcast per
    group. The oracle spells the naive window form; ranks are located by
    explicit row_number so both engines pick identical order statistics,
    and value sums go through DECIMAL(12,2) (clamp outputs are original
    data values, so the timeseries summation precedent applies).

    r15: the 2-column projection is checkpoint-materialized (same
    mechanism and rationale as anomaly_mad_outliers below; the final
    clipped aggregation is a third reader of the same frame).
    """
    items = checkpoint(
        load_table(spark, sf_dir, "events").select(
            F.col("event_type").alias("g"), F.col("value").alias("v")
        )
    )
    ext = _group_extents(items)
    ranks = ext.select(
        "g",
        F.explode(
            F.array(
                F.expr("(n + 9) div 10"), F.expr("(9 * n + 9) div 10")
            )
        ).alias("k"),
    )
    picked = values_at_group_ranks(items, ext, ranks, carry=("n",))
    # ≤2 picked rows per group; order statistics are monotone in rank, so
    # min/max recovers (p10, p90) without threading k through the bin join
    # (k_lo == k_hi for tiny groups collapses to one row — clamp degenerates
    # to the constant, same as the oracle).
    bounds = picked.groupBy("g", "n").agg(
        F.min("v").alias("plo"), F.max("v").alias("phi")
    )
    clipped = items.join(F.broadcast(bounds), "g").select(
        "g",
        "n",
        "plo",
        "phi",
        F.when(F.col("v") < F.col("plo"), F.col("plo"))
        .when(F.col("v") > F.col("phi"), F.col("phi"))
        .otherwise(F.col("v"))
        .cast("decimal(12,2)")
        .alias("wv"),
    )
    return (
        clipped.groupBy("g")
        .agg(
            F.max("n").alias("n"),
            F.max("plo").alias("p10"),
            F.max("phi").alias("p90"),
            (F.sum("wv").cast("double") / F.max("n")).alias(
                "winsorized_mean"
            ),
        )
        .select(
            F.col("g").alias("event_type"), "n", "p10", "p90",
            "winsorized_mean",
        )
    )

@register(
    "anomaly_mad_outliers",
    # Robust outlier detection per group: median / MAD / 3-MAD exceedance
    # count. The oracle spells the naive two-median form; both engines
    # compute the SAME deviation doubles (one IEEE subtraction + abs of
    # identical inputs), so the two median multisets are identical and the
    # even-n average follows the long-green exact_median_by_group
    # convention.
    oracle="""
    WITH med AS (
      SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
             median(value) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type AS g, m.n, m.med, abs(e.value - m.med) AS d
      FROM events e JOIN med m ON m.g = e.event_type
    ),
    mad AS (SELECT g, median(d) AS mad FROM dev GROUP BY g)
    SELECT d.g AS event_type, max(d.n) AS n, max(d.med) AS median_value,
           max(m.mad) AS mad,
           CAST(sum(CASE WHEN d.d > 3.0 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (g)
    GROUP BY d.g
    """,
)
def anomaly_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier counts via median absolute deviation: each
    event type's exact median, the exact median of |value − median| (MAD),
    and how many values exceed the 3×MAD fence — the robust-statistics
    twin of ``anomaly_zscore_events`` (operators/timeseries.py), which
    fences on mean ± 3σ. Deliberate contrast: a z-score fence MOVES with
    the outliers it is hunting (one fat-finger value inflates σ and hides
    its siblings — masking); the MAD fence is breakdown-robust to 50%
    contamination, which is why data-quality monitors run both. Also
    distinct from ``agg_winsorized_mean`` (clips at percentile bounds to
    repair an aggregate; this COUNTS exceedances to alarm on them).

    Plan shape: the grouped histogram-narrowing kernel
    (``values_at_group_ranks``) runs twice — once over values, once over
    deviations — so there is never a per-group global sort at either
    stage; every join broadcasts a ≤|event types|-row frame, and every
    aggregate is map-side combinable. Nothing ever concentrates a
    group's values into one partition.

    Materialization (r15, guide §1.2/§5): the two kernel runs plus the
    fence scan re-derived their input frames per stage — the EXECUTED
    plan ran **49 parquet scans** of events (12 ReusedExchange
    notwithstanding). The 2-column ``items`` projection and the 4-column
    ``dev`` frame are now checkpoint-materialized (owned by the entry's
    lifetime tag until its release), so
    every kernel stage reads the materialized narrow columns instead of
    re-scanning: 49 scans → 1, sf0.1 best 4.38 → 2.52 s, rows identical
    (differential-checked on all checkpoint combinations). At 100 TB
    this trades ~25 pruned corpus re-scans + re-joins for one
    materialization of each narrow frame (MEMORY_AND_DISK, spills).
    """
    items = checkpoint(
        load_table(spark, sf_dir, "events").select(
            F.col("event_type").alias("g"), F.col("value").alias("v")
        )
    )
    ext = _group_extents(items)
    mid_ranks = lambda e: e.select(  # noqa: E731 — the two-middle rank frame
        "g",
        F.explode(
            F.array(F.expr("(n + 1) div 2"), F.expr("(n + 2) div 2"))
        ).alias("k"),
    )
    med = (
        values_at_group_ranks(items, ext, mid_ranks(ext), carry=("n",))
        .groupBy("g", "n")
        .agg(F.avg("v").alias("med"))
        # The ≤|types|-row median frame is embedded in dev, which the MAD
        # kernel and the final fence scan each expand ~3× — uncached, the
        # median's own 4-pass subplan re-executes inside every expansion
        # (~20 events scans, measured 11.5 s at sf0.1 vs 2.5 s cached).
        # cache() truncates that lineage to one InMemoryRelation;
        # clearCache() in the harnesses releases it between entries.
        .cache()
    )
    dev = checkpoint(
        items.join(F.broadcast(med), "g").select(
            "g", "n", "med", F.abs(F.col("v") - F.col("med")).alias("v")
        )
    )
    ext2 = _group_extents(dev.select("g", "v"))
    mad = (
        values_at_group_ranks(dev.select("g", "v"), ext2, mid_ranks(ext2))
        .groupBy("g")
        .agg(F.avg("v").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "g")
        .groupBy("g")
        .agg(
            F.max("n").alias("n"),
            F.max("med").alias("median_value"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(F.col("v") > F.lit(3.0) * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            F.col("g").alias("event_type"), "n", "median_value", "mad",
            "n_outliers",
        )
    )
