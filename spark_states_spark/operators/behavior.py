"""Behavioral / product-analytics operators: funnels and cohort retention.

The two workhorse event-analytics queries every OLAP engine ships, over
the ``events`` fixture. Both are single-shuffle shapes: one Exchange on
``user_id``, then window/aggregate passes that reuse that partitioning —
the pattern that survives a 100 TB event log (per-user state never leaves
its partition; the final result is a few hundred grouped rows).

Time arithmetic is integer epoch seconds/days in BOTH engines (Spark
``unix_timestamp`` / DuckDB ``epoch_ns // 1e9``), sidestepping
timestamp-comparison and week-origin dialect differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import SHARED_MEMOS, register
from ..lifetime import checkpoint, shared
from ..sources import load_table
from ..sources.tables import fixture_key

_DAY_S = 86400

# Shared epoch-seconds projection of the events table.
_DUCK_OPS = """
  SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS ts_s
  FROM events
"""


def _events_ts_s(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("ts_s")
    )


@register(
    "funnel_view_signup_purchase",
    oracle=f"""
    WITH ops AS ({_DUCK_OPS}),
    s1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' THEN ts_s END)
                  OVER (PARTITION BY user_id) AS t1
      FROM ops
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'signup' AND ts_s >= t1
                         THEN ts_s END)
                  OVER (PARTITION BY user_id) AS t2
      FROM s1
    ),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_s >= t2
                         THEN ts_s END)
                  OVER (PARTITION BY user_id) AS t3
      FROM s2
    )
    SELECT CAST(count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END)
                AS BIGINT) AS n_view,
           CAST(count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END)
                AS BIGINT) AS n_signup_after_view,
           CAST(count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END)
                AS BIGINT) AS n_purchase_after_signup
    FROM s3
    """,
)
def funnel_view_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel: users who viewed, then signed up AT OR
    AFTER their first view, then purchased at or after that signup — the
    classic sequence-constrained conversion funnel (each stage's timestamp
    is the earliest event satisfying the ORDER constraint, not just
    presence).

    Plan shape: one Exchange on ``user_id``, then three chained
    min-over-partition Window passes (each stage's cutoff feeds the next —
    unbounded frames, no sort needed), then a partial-aggregated global
    count. Per-user work never leaves its partition; the 100 TB cost is
    one shuffle of (user_id, type, ts_s).
    """
    ops = _events_ts_s(spark, sf_dir)
    w = W.partitionBy("user_id")
    staged = (
        ops.withColumn(
            "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts_s"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "signup") & (F.col("ts_s") >= F.col("t1")),
                    F.col("ts_s"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_s") >= F.col("t2")),
                    F.col("ts_s"),
                )
            ).over(w),
        )
    )
    # Collapse to one row per user FIRST: the rows are already partitioned
    # by user_id from the Window Exchange, so this groupBy is exchange-free
    # and the global count is then a sum of 0/1 flags — no Expand, no
    # distinct-count shuffle (the naive countDistinct trio costs an Expand
    # plus a second full-width Exchange).
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.sum(F.col("t1").isNotNull().cast("long")).alias("n_view"),
        F.sum(F.col("t2").isNotNull().cast("long")).alias("n_signup_after_view"),
        F.sum(F.col("t3").isNotNull().cast("long")).alias(
            "n_purchase_after_signup"
        ),
    )


@register(
    "cohort_retention_daily",
    oracle=f"""
    WITH ops AS ({_DUCK_OPS}),
    d AS (
      SELECT user_id, ts_s // {_DAY_S} AS day,
             min(ts_s // {_DAY_S}) OVER (PARTITION BY user_id) AS cohort_day
      FROM ops
    )
    SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
           CAST(day - cohort_day AS BIGINT) AS day_delta,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM d
    GROUP BY 1, 2
    """,
)
def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day, with
    the count of distinct users active ``day_delta`` days after their
    cohort day — the standard retention triangle.

    Same single-shuffle shape as the funnel: min-over-user Window for the
    cohort day reuses the Exchange the distinct-count aggregation needs;
    output is ≤ cohorts × horizon rows however large the event log.
    """
    ops = _events_ts_s(spark, sf_dir)
    d = ops.select(
        "user_id", (F.col("ts_s") / _DAY_S).cast("long").alias("day")
    ).withColumn("cohort_day", F.min("day").over(W.partitionBy("user_id")))
    return (
        d.groupBy(
            F.col("cohort_day"),
            (F.col("day") - F.col("cohort_day")).alias("day_delta"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "funnel_time_to_convert",
    # Integer-second deltas in both engines (epoch floor), strict
    # first-purchase-after-first-view; DuckDB median = quantile_cont(0.5)
    # = avg of the two middle order statistics for even N — exactly what
    # exact_median computes (operators/orderstats.py module docstring).
    oracle="""
    WITH v AS (SELECT user_id, min(epoch_ns(ts) // 1000000000) AS v_s
               FROM events WHERE event_type = 'view' GROUP BY 1),
    p AS (SELECT e.user_id, min(epoch_ns(e.ts) // 1000000000) AS p_s
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase'
            AND epoch_ns(e.ts) // 1000000000 > v.v_s
          GROUP BY 1),
    d AS (SELECT p.p_s - v.v_s AS delta FROM v JOIN p USING (user_id))
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           median(delta) AS median_secs
    FROM d
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: EXACT median seconds from a user's first view
    to their first strictly-later purchase — the metric a growth team
    reads next to the funnel counts (``funnel_view_signup_purchase``:
    HOW MANY convert; this: HOW FAST).

    Scale shape: two keyed aggregations (first view / first purchase per
    user — map-side combined) and one user-keyed join produce one delta
    row per converted user; the exact median then runs through the
    histogram-narrowing machinery (``operators/orderstats.exact_median``
    — no global sort, no single-partition percentile), so the whole plan
    is bounded-window at any scale.
    """
    from .orderstats import exact_median

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("s")
    )
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("s").alias("v_s")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("s") > F.col("v_s"))
        .groupBy("user_id")
        .agg(F.min("s").alias("p_s"))
    )
    deltas = p.join(v, "user_id").select(
        (F.col("p_s") - F.col("v_s")).alias("v")
    )
    return exact_median(deltas).select(
        F.col("n").alias("n_converted"), F.col("median").alias("median_secs")
    )


# Fail-loud bound for the 1e9-multiplier packed (ts, event_id) ordering key
# (ADVICE r11): an event_id >= 1e9 silently reorders IDENTICALLY on both
# engine and oracle sides — the differential still passes while the
# documented order-by-time semantics break — so the pack's bound must error
# loudly instead (the same contract as streaming_funnel_stages' oracle guard
# and ohlc_daily_bars' seq_guard). assert_true returns NULL when the
# predicate holds, so the coalesce term is a codegen'd no-op 0 on the happy
# path.
_PACK_GUARD_1E9 = (
    "coalesce(cast(assert_true(event_id >= 0 AND event_id < 1000000000, "
    "'packed (ts, event_id) ordering key: event_id outside [0, 1e9) breaks "
    "order-by-time semantics — widen the pack') AS BIGINT), 0)"
)
# The IS NULL disjunct keeps the two sides symmetric: Spark's assert_true
# raises on a NULL predicate, while a bare CASE WHEN NULL would fall to
# ELSE and order the row NULLS-LAST silently — exactly the silent-reorder
# class the guard exists to kill.
_PACK_GUARD_1E9_SQL = """
             CASE WHEN event_id IS NULL OR event_id < 0
                       OR event_id >= 1000000000
                  THEN error('packed ordering key: event_id outside '
                             || '[0, 1e9) breaks order-by-time semantics')
                  ELSE epoch_ns(ts) // 1000000000 * 1000000000 + event_id
             END AS k"""


@register(
    "attribution_last_touch",
    oracle=f"""
    WITH k AS (
      SELECT user_id, event_type,{_PACK_GUARD_1E9_SQL}
      FROM events
    ),
    touched AS (
      SELECT event_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
      FROM k
    )
    SELECT coalesce(touch, 'direct') AS touch_type,
           CAST(count(*) AS BIGINT) AS n_purchases
    FROM touched WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent PRECEDING non-purchase event by the same user (their last
    marketing "touch"); purchases with no prior touch are 'direct'. The
    standard marketing-attribution rollup every event warehouse runs.

    Plan shape: one Exchange on ``user_id``, one ordered Window pass with
    a running last-non-null (the frame excludes the current row, so a
    purchase never attributes to itself or a later event), then a
    partial-aggregated count over ≤ |event types| + 1 groups. Ordering is
    the packed (ts, event_id) key every streaming oracle uses — with a
    1e9 multiplier (not the streaming convention's 1e6) so stated
    last-touch-by-time semantics hold for event_id up to 1e9 (the sf≥10
    fixtures exceed 1e6; epoch_s × 1e9 + 1e9 still fits int64 — ADVICE
    r10), and the bound fails LOUDLY on both engine and oracle sides
    (``_PACK_GUARD_1E9`` — ADVICE r11: past-bound ids would reorder
    identically in both dialects, so only an in-query guard catches it)
    — so ties within a second are broken identically in both
    engines. At 100 TB the
    cost is the one per-user shuffle; the window is a linear scan per
    partition and the final agg is bounded by event-type cardinality.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (
            F.unix_timestamp("ts") * F.lit(1000000000)
            + F.col("event_id")
            + F.expr(_PACK_GUARD_1E9)
        ).alias("k"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("k")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touched = ev.withColumn(
        "touch",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        touched.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("direct")).alias("touch_type"))
        .agg(F.count("*").alias("n_purchases"))
    )


@register(
    "sequence_transition_matrix",
    oracle=f"""
    WITH k AS (
      SELECT user_id, event_type,{_PACK_GUARD_1E9_SQL}
      FROM events
    ),
    t AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY k) AS dst
      FROM k
    ),
    c AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS n_transitions
      FROM t WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n_transitions,
           CAST(n_transitions AS DOUBLE)
             / sum(n_transitions) OVER (PARTITION BY src) AS p_transition
    FROM c
    """,
)
def sequence_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: counts and conditional probabilities of event_type →
    next-event_type transitions — the sequence-mining primitive behind
    next-action prediction, anomaly scoring, and journey analysis.

    One Exchange on ``user_id``, one lead() pass over the packed
    (ts, event_id) order (1e9 multiplier — safe for event_id < 1e9,
    covering every fixture SF, and fail-loud-guarded on both sides via
    ``_PACK_GUARD_1E9``; see ``attribution_last_touch``), then a
    partial-aggregated count over ≤ |types|²
    groups; the probability window runs on the AGGREGATED frame (≤ 25
    rows), never the raw log. Probabilities are one double division of
    exact BIGINT counts — identical expression both engines.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (
            F.unix_timestamp("ts") * F.lit(1000000000)
            + F.col("event_id")
            + F.expr(_PACK_GUARD_1E9)
        ).alias("k"),
    )
    w = W.partitionBy("user_id").orderBy("k")
    t = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    c = (
        t.where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_transitions"))
    )
    return c.select(
        "src",
        "dst",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(W.partitionBy("src"))
        ).alias("p_transition"),
    )


@register(
    "behavior_path_trigrams",
    oracle=f"""
    WITH k AS (
      SELECT user_id, event_type,{_PACK_GUARD_1E9_SQL}
      FROM events
    ),
    t AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY k) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY k) AS e3
      FROM k
    ),
    c AS (
      SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
      FROM t WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
    )
    SELECT e1, e2, e3, n_paths,
           CAST(n_paths AS DOUBLE) / sum(n_paths) OVER () AS path_share
    FROM c
    """,
)
def behavior_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order path mining: counts and corpus shares of every 3-step
    event-type path (e1 → e2 → e3) inside each user's ordered sequence —
    the "common user journeys" query behind funnel discovery and UX path
    analysis. Deliberately distinct from ``sequence_transition_matrix``
    (its FIRST-order sibling): the trigram table captures order-2 context
    a Markov bigram matrix cannot (e.g. view→signup→purchase vs
    signup→view→purchase have the same bigram mass split but different
    trigram rows), and shares are of the WHOLE path corpus, not
    conditional-per-source.

    Plan shape: one Exchange on ``user_id`` serving BOTH lead() offsets in
    a single Window pass over the fail-loud-guarded packed (ts, event_id)
    order (``_PACK_GUARD_1E9`` — same contract as its siblings), then a
    partial-aggregated count over ≤ |types|³ groups; the share window runs
    on the AGGREGATED frame (≤ 125 rows), never the raw log. At 100 TB the
    cost is the one per-user shuffle — identical to the transition
    matrix's, so the order-2 statistic is free relative to order-1.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (
            F.unix_timestamp("ts") * F.lit(1000000000)
            + F.col("event_id")
            + F.expr(_PACK_GUARD_1E9)
        ).alias("k"),
    )
    w = W.partitionBy("user_id").orderBy("k")
    t = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    c = (
        t.where(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n_paths"))
    )
    return c.select(
        "e1",
        "e2",
        "e3",
        "n_paths",
        (
            F.col("n_paths").cast("double")
            / F.sum("n_paths").over(W.partitionBy())
        ).alias("path_share"),
    )


@register(
    "assoc_event_type_lift",
    oracle="""
    WITH pres AS (
      -- NULL users are excluded EXPLICITLY in both engines: without the
      -- filter the oracle's pieces disagree among themselves (the pair
      -- self-join drops NULL keys, count(*) supports keep them)
      SELECT DISTINCT user_id, event_type FROM events
      WHERE user_id IS NOT NULL
    ),
    n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          FROM pres),
    supp AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM pres
      GROUP BY event_type
    ),
    pair AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM pres a JOIN pres b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_both,
           CAST(n_both * n.n_users AS DOUBLE) / (sa.n * sb.n) AS lift
    FROM pair
    JOIN supp sa ON sa.event_type = type_a
    JOIN supp sb ON sb.event_type = type_b
    CROSS JOIN n
    """,
)
def assoc_event_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over user event baskets: for every
    unordered pair of event types, the co-occurrence count (users with
    both) and the LIFT n_both·N / (n_a·n_b) — >1 means the pair
    co-occurs more than independence predicts. The association-rule
    primitive every product-analytics engine ships.

    Pairs are generated IN-ROW from each user's sorted distinct-type set
    (the ``source_overlap_matrix`` pattern): ONE scan and one distinct
    pass build the per-user type-set frame (checkpoint-materialized — one
    row per user, shared per (session, fixture) under the
    ``user_type_sets`` lifetime tag, the ``_cc_labels`` convention), and
    the user count, per-type supports (in-row explode), and bounded
    C(|types|, 2) pair expansion are all derived from it — a user with a
    million events still contributes ≤ C(5,2) pair rows, so the shape
    survives any per-user volume. NULL
    user ids are excluded on both sides (the SQL pair self-join would
    silently drop them while the supports kept them). Lift is one double
    division of exact BIGINT products (N, supports, and co-counts all
    integers) — bit-identical in both engines. The 1-row user-count
    broadcast is the same scalar shape as ``scalar_subquery_avg``.
    """
    sets = _user_type_sets(spark, sf_dir)
    n = sets.agg(F.count("*").alias("n_users"))
    supp = (
        sets.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    pair = F.explode(
        F.expr(
            "flatten(transform(sequence(0, size(types) - 2), i -> "
            "transform(slice(types, i + 2, size(types) - i - 1), t -> "
            "struct(types[i] AS type_a, t AS type_b))))"
        )
    ).alias("p")
    pairs = (
        sets.where(F.size("types") >= 2)
        .select(pair)
        .groupBy(F.col("p.type_a").alias("type_a"),
                 F.col("p.type_b").alias("type_b"))
        .agg(F.count("*").alias("n_both"))
    )
    sa = supp.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = supp.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_both",
            (
                (F.col("n_both") * F.col("n_users")).cast("double")
                / (F.col("na") * F.col("nb"))
            ).alias("lift"),
        )
    )


def _user_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sorted distinct event-type sets (NULL users excluded),
    checkpointed once per (session, fixture generation) so the three
    derivations (user count, supports, pair expansion) share one events
    scan. Keyed on fixture CONTENT identity, not just the path: the driver
    regenerates testdata in place between rounds (ADVICE r10)."""
    return shared(
        spark,
        "user_type_sets",
        fixture_key(sf_dir, "events"),
        lambda: checkpoint(
            load_table(spark, sf_dir, "events")
            .where(F.col("user_id").isNotNull())
            .select("user_id", "event_type")
            .distinct()
            .groupBy("user_id")
            .agg(F.sort_array(F.collect_set("event_type")).alias("types"))
        ),
    )


SHARED_MEMOS["user_type_sets"] = {"assoc_event_type_lift"}
