"""Bounded-memory sketch operators: heavy hitters, Bloom-pruned joins, and
HyperLogLog cardinality (see the HLL section at the bottom).

Two classic 100 TB patterns where the exact naive plan is the bottleneck:

- **Heavy hitters** (frequent vocabulary / hot keys): the naive
  ``GROUP BY key`` materializes one row per DISTINCT key — at 100 TB of
  text that is the full vocabulary (billions of rows shuffled) to answer a
  question about the few thousand frequent ones. Misra-Gries summaries are
  *mergeable* (Agarwal et al., "Mergeable Summaries", PODS'12): a k-counter
  sketch per partition, merged, yields a candidate superset of every key
  with frequency > N/(k+1); an exact recount of only the candidates then
  makes the output EXACT, so the DuckDB oracle is the plain HAVING query.
  Sketch memory is O(k) per partition regardless of key cardinality.

- **Bloom-pruned semi join**: Spark's row-level runtime filtering
  (SPARK-32268) made explicit. The build side's keys are folded into an
  m-bit Bloom bitmap AS DATA (a ≤ m/64-row words table — never collected);
  the probe side tests h bit positions against the broadcast bitmap and
  only survivors reach the exact (broadcast) semi join that removes false
  positives. Output equals the plain semi join — bit-exact oracle — while
  the expensive join sees only the pre-filtered fraction. At 100 TB the
  bitmap (a few MB for millions of build keys) broadcasts where the build
  side's key set itself may not.

Both stay on the JVM hot path except the per-partition Misra-Gries fold,
which is an Arrow-batched ``mapInPandas`` with O(k) state — the same
"imperative per-partition logic" escape hatch the multimodal ops use.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import register
from ..sources import load_table
from .hashes import DUCK_TOKS, SPARK_TOKS, duck_h32, duck_h60

# Heavy-hitter threshold: a token is frequent iff count * T > N (share >
# 1/T). The Misra-Gries superset guarantee needs k + 1 > T: merged sketch
# undercount is at most N/(k+1) < N/T, so every true heavy hitter survives
# with a positive merged count. k = 256 counters per partition bounds
# sketch memory independent of vocabulary size.
_HH_T = 100
_MG_K = 256


def misra_gries_candidates(keys: DataFrame, key_col: str, k: int = _MG_K) -> DataFrame:
    """Per-partition Misra-Gries sketch → merged candidate keys.

    Each partition folds its rows into at most ``k`` counters; when a batch
    merge overflows, the (k+1)-th largest count is subtracted from all
    counters and non-positive ones dropped — the mergeable-summaries
    reduction, which keeps total undercount ≤ n_partition/(k+1). The union
    of surviving keys across partitions is a superset of every key with
    global frequency > N/(k+1).

    Returns a merged (key, mg_count) frame; the NULL-key row carries the
    EXACT global row count N (each partition's sentinel row is its true
    size, immune to sketch reductions), so callers get candidates AND the
    total from one scan. Input keys must be NON-NULL (filter upstream —
    NULL is the sentinel; pandas value_counts also drops NaN, so a null
    key would silently vanish from the counts).
    """

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n_seen = 0
        for pdf in batches:
            n_seen += len(pdf)
            for key, c in pdf[key_col].value_counts().items():
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {u: c - cut for u, c in counters.items() if c > cut}
        # Sentinel row (key NULL): the partition's EXACT row count, so the
        # global total rides along in the sketch pass instead of costing a
        # separate scan. Object dtype keeps integer keys exact: a plain
        # list-with-None column coerces int64 → float64 and keys past 2^53
        # would silently collide through the Arrow crossing.
        yield pd.DataFrame(
            {key_col: pd.Series(list(counters) + [None], dtype=object),
             "mg_count": list(counters.values()) + [n_seen]}
        )

    # Sketch-row key type follows the input column (ADVICE r04): a non-string
    # key column (e.g. bigint user ids) keeps its type through the Arrow
    # crossing instead of being silently stringified by a hardcoded schema.
    key_type = dict(keys.dtypes)[key_col]
    sketch_schema = f"{key_col} {key_type}, mg_count bigint"
    return keys.mapInPandas(mg, sketch_schema).groupBy(key_col).agg(
        F.sum("mg_count").alias("mg_count")
    )


@register(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({DUCK_TOKS.format(col='text')}) AS token
      FROM documents
    ),
    cnt AS (SELECT token, count(*) AS n_occurrences FROM toks GROUP BY token),
    tot AS (SELECT count(*) AS n FROM toks)
    SELECT token, CAST(n_occurrences AS BIGINT) AS n_occurrences
    FROM cnt, tot
    WHERE n_occurrences * {_HH_T} > n AND token <> ''
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-vocabulary mining: every token with > 1/{T} share of all
    token occurrences, with its EXACT count — via per-partition Misra-Gries
    candidates + exact recount of candidates only.

    Scale shape: the only full-width aggregation is over the candidate set
    (≤ partitions × k rows, broadcast back onto one token scan); the full
    vocabulary is never shuffled. The naive exact plan — GROUP BY token
    over everything — is what this avoids: at 100 TB the group-by key
    cardinality is the whole vocabulary. Fixture note: the synthetic corpus
    has a ~31-token vocabulary, so every token clears the 1% bar and the
    sketch never evicts here; eviction correctness on genuinely skewed data
    is pinned by tests/test_sketches.py against an exact recount.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.expr(SPARK_TOKS.format(col="text"))).alias("token")
    ).where(F.col("token") != "")
    sketch = misra_gries_candidates(toks, "token")
    # Attach the NULL-key sentinel total to every candidate row with a
    # global window OVER THE SKETCH ONLY (≤ partitions × k rows — the one
    # place a partition-less window is safe), so the sketch subtree is
    # evaluated once and the recount scan is the query's second and last
    # pass over the data.
    cand = (
        sketch.withColumn(
            "n",
            F.max(F.when(F.col("token").isNull(), F.col("mg_count"))).over(
                Window.partitionBy()
            ),
        )
        .where(F.col("token").isNotNull())
        .select("token", "n")
    )
    # The candidate set is bounded by construction (≤ partitions × k rows,
    # data-size-independent), so the broadcast hint is safe under the
    # repo's broadcast policy (tests/test_plans.py: bounded relations only).
    return (
        toks.join(F.broadcast(cand), "token")
        .groupBy("token", "n")
        .agg(F.count("*").alias("n_occurrences"))
        .where(F.col("n_occurrences") * _HH_T > F.col("n"))
        .select("token", "n_occurrences")
    )


# Bloom parameters: m = 2^17 bits (2048 longs ≈ 16 KB) over h = 3 hash
# functions. For the sf0.01 build side (~300 keys) the false-positive rate
# is ~(1 - e^{-hn/m})^h ≈ 3e-7; sized so the words table stays a trivial
# broadcast even at 10^6 build keys (fp ≈ 4%).
_BLOOM_M = 1 << 17
_BLOOM_H = 3
_BLOOM_SEEDS = [101, 202, 303]


def _bloom_positions(key: F.Column) -> list[F.Column]:
    """h bit positions for a key — native xxhash64 (JVM intrinsic); the
    Bloom stage needs no cross-engine parity because false positives are
    removed by the exact join, so the fast hash is safe to use here."""
    return [
        F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(_BLOOM_M))
        for seed in _BLOOM_SEEDS
    ]


def bloom_prefilter(
    probe: DataFrame, probe_key: str, build_keys: DataFrame, build_key: str
) -> DataFrame:
    """Bloom-bitmap pre-filter: keep probe rows whose key MIGHT be in the
    build set (members plus ~fp-rate false positives; never drops a member).

    The build side folds into a ≤ m/64-row (word_idx, bits) bitmap via
    bitwise-OR aggregation — all JVM expressions, never collected. The
    probe tests its h positions with h broadcast equi-joins against the
    bitmap; a probe word absent from the bitmap has no set bits, so the
    inner join itself is the membership test for that hash.
    """
    build = build_keys.select(F.col(build_key).alias("__bk")).distinct()
    # (word_idx, bit) per hash per key → OR-fold into the bitmap words.
    pos = F.explode(F.array(*_bloom_positions(F.col("__bk")))).alias("pos")
    words = (
        build.select(pos)
        .select(
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("bits"))
    )
    filtered = probe
    for i, p in enumerate(_bloom_positions(F.col(probe_key))):
        # words is bounded by CONSTRUCTION at m/64 rows (2048 here) whatever
        # the build side's cardinality — the one relation in this operator
        # that may carry an explicit broadcast hint under the repo policy.
        wi = words.select(
            F.col("word_idx").alias(f"__wi{i}"), F.col("bits").alias(f"__bits{i}")
        )
        filtered = (
            filtered.withColumn(f"__pos{i}", p)
            .withColumn(f"__wi{i}", (F.col(f"__pos{i}") / 64).cast("int"))
            .join(F.broadcast(wi), f"__wi{i}", "inner")
            .where(
                F.col(f"__bits{i}").bitwiseAND(
                    F.expr(f"shiftleft(1L, cast(__pos{i} % 64 as int))")
                )
                != 0
            )
            .drop(f"__wi{i}", f"__bits{i}", f"__pos{i}")
        )
    return filtered


def bloom_semi_join(
    probe: DataFrame, probe_key: str, build_keys: DataFrame, build_key: str
) -> DataFrame:
    """Semi-join ``probe`` to ``build_keys`` with a Bloom pre-filter.

    :func:`bloom_prefilter` prunes non-members, then an exact semi join
    removes the false positives — the result is EXACTLY the plain semi
    join, which is what the DuckDB oracle checks. The exact join carries
    NO broadcast hint: the build-side key set scales with the data (the
    whole reason the bitmap exists), so Catalyst/AQE must earn a broadcast
    from measured sizes; the shuffle alternative only sees the pre-filtered
    probe fraction.
    """
    filtered = bloom_prefilter(probe, probe_key, build_keys, build_key)
    build = build_keys.select(F.col(build_key).alias("__bk")).distinct()
    return filtered.join(
        build, filtered[probe_key] == build["__bk"], "leftsemi"
    )


@register(
    "bloom_semi_join_orders",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(trunc(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey
                    AND c.c_mktsegment = 'BUILDING')
    GROUP BY o.o_orderpriority
    """,
)
def bloom_semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders of BUILDING-segment customers via the Bloom-pruned semi join —
    output identical to the plain semi join (the oracle), with the Bloom
    bitmap pruning non-matching orders before the exact join.

    100 TB shape: at scale the segment's customer-key set may be too large
    to broadcast as a join side, but its 16 KB–few-MB Bloom bitmap always
    is; the exact semi join then runs over only the pre-filtered fraction.
    (On this fixture Catalyst would happily broadcast the build side
    directly — the entry exists to pin the pattern's correctness, and
    tests/test_sketches.py pins that the bitmap actually prunes.)
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    build = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    matched = bloom_semi_join(orders, "o_custkey", build, "c_custkey")
    return matched.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum((F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
    )


# --- HyperLogLog cardinality, cross-engine-exact ---------------------------
#
# p = 12 → m = 4096 registers; 32-bit md5-derived hash → bucket = low 12
# bits, rho = leading-zero rank of the remaining 20 bits (1..21). Everything
# the estimate needs is computed with INTEGER comparisons and EXACT decimal
# literals, so Spark and DuckDB produce bit-identical doubles: no log2(), no
# float pow(), no order-dependent float summation (the harmonic sum runs in
# DECIMAL(38,21), where each 2^-rho term is exact).
_HLL_P = 12
_HLL_M = 1 << _HLL_P
_HLL_WBITS = 32 - _HLL_P  # 20
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)  # embedded as one double literal


def _rho_case(w: str) -> str:
    """rho = position of the highest set bit of the 20-bit ``w``, counted
    from the MSB (1-based); 21 when w == 0. Pure integer comparisons —
    identical SQL in both dialects."""
    arms = " ".join(
        f"WHEN {w} >= {1 << (_HLL_WBITS - r)} THEN {r}"
        for r in range(1, _HLL_WBITS + 1)
    )
    return f"(CASE {arms} ELSE {_HLL_WBITS + 1} END)"


def _pow2neg_case(rho: str) -> str:
    """2^-rho as an EXACT decimal literal lookup (5^k / 10^k), 1..21. All
    literals carry the SAME fixed 21-digit scale so both engines unify the
    CASE arms without a widening multiplication (unpadded mixed scales
    overflow DuckDB's DECIMAL(18) rescale path)."""
    from decimal import Decimal

    arms = " ".join(
        f"WHEN {r} THEN {(Decimal(5) ** r / Decimal(10) ** r):.21f}"
        for r in range(1, _HLL_WBITS + 2)
    )
    return f"(CASE {rho} {arms} END)"


def _hll_sql(hash_expr: str, exact_expr: str, table: str) -> str:
    """The whole HLL pipeline as one SQL string, shared shape for both
    engines (caller supplies the dialect-specific 32-bit hash and the exact
    distinct count expression)."""
    return f"""
    WITH h AS (SELECT {hash_expr} AS h32 FROM {table}),
    reg AS (
      SELECT h32 % {_HLL_M} AS bucket,
             max({_rho_case(f"(h32 - (h32 % {_HLL_M})) / {_HLL_M}")}) AS rho
      FROM h GROUP BY h32 % {_HLL_M}
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_occupied,
             CAST(sum(CAST({_pow2neg_case('rho')} AS DECIMAL(38,21)))
                  AS DECIMAL(38,21)) AS s_occ
      FROM reg
    ),
    e AS (SELECT CAST({exact_expr} AS BIGINT) AS n_exact FROM {table})
    SELECT n_exact, n_occupied,
           CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M}
             / (CAST(s_occ AS DOUBLE) + ({_HLL_M} - n_occupied))
             AS hll_estimate
    FROM s, e
    """


@register(
    "hll_distinct_user_days",
    oracle=_hll_sql(
        hash_expr=duck_h32(
            "(CAST(user_id AS VARCHAR) || ':' || "
            "CAST(epoch_ns(ts) // 1000000000 // 86400 AS VARCHAR))"
        ),
        exact_expr=(
            "count(DISTINCT CAST(user_id AS VARCHAR) || ':' || "
            "CAST(epoch_ns(ts) // 1000000000 // 86400 AS VARCHAR))"
        ),
        table="events",
    ),
)
def hll_distinct_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog estimate of distinct (user, day) active pairs, alongside
    the exact count — registers, harmonic sum and estimate all computed with
    integer/decimal-exact arithmetic so the sketch output is BIT-IDENTICAL
    across engines (the usual HLL float path — log2, pow, unordered float
    sums — is deliberately absent; see the module constants).

    100 TB shape: the scan reduces to ≤ m = 4096 register rows via a
    map-side-combined max aggregation — mergeable across partitions,
    executors, even days (union of registers = register-wise max), which is
    why HLL is THE distributed distinct-count structure. The exact
    ``n_exact`` column is the verification baseline (a real deployment
    drops it — that's the whole point); `mg`+HLL sketches together answer
    "how many / which ones are hot" without ever shuffling the key space.
    """
    from .hashes import spark_h32

    events = load_table(spark, sf_dir, "events")
    pair = (
        "concat(cast(user_id as string), ':', "
        "cast(unix_timestamp(ts) div 86400 as string))"
    )
    h = events.selectExpr(f"{spark_h32(pair)} AS h32")
    reg = h.groupBy((F.col("h32") % _HLL_M).alias("bucket")).agg(
        F.expr(f"max({_rho_case(f'(h32 - (h32 % {_HLL_M})) / {_HLL_M}')})").alias(
            "rho"
        )
    )
    s = reg.agg(
        F.count("*").alias("n_occupied"),
        F.expr(
            f"cast(sum(cast({_pow2neg_case('rho')} as decimal(38,21)))"
            " as decimal(38,21))"
        ).alias("s_occ"),
    )
    e = events.selectExpr(f"count(distinct {pair}) AS n_exact")
    return s.crossJoin(e).selectExpr(
        "n_exact",
        "cast(n_occupied as bigint) AS n_occupied",
        f"cast({_HLL_ALPHA!r} as double) * {_HLL_M} * {_HLL_M}"
        f" / (cast(s_occ as double) + ({_HLL_M} - n_occupied)) AS hll_estimate",
    )


def _hll_grouped_sql(group_col: str, hash_expr: str, exact_expr: str, table: str) -> str:
    """Per-group HLL: same arithmetic-portable pipeline, keyed by
    ``group_col`` — registers become (group, bucket) rows, so sketches for
    different groups build in ONE pass and stay independently mergeable."""
    return f"""
    WITH h AS (SELECT {group_col} AS grp, {hash_expr} AS h32 FROM {table}),
    reg AS (
      SELECT grp, h32 % {_HLL_M} AS bucket,
             max({_rho_case(f"(h32 - (h32 % {_HLL_M})) / {_HLL_M}")}) AS rho
      FROM h GROUP BY grp, h32 % {_HLL_M}
    ),
    s AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_occupied,
             CAST(sum(CAST({_pow2neg_case('rho')} AS DECIMAL(38,21)))
                  AS DECIMAL(38,21)) AS s_occ
      FROM reg GROUP BY grp
    ),
    e AS (SELECT {group_col} AS grp, CAST({exact_expr} AS BIGINT) AS n_exact
          FROM {table} GROUP BY {group_col})
    SELECT s.grp AS event_type, e.n_exact, s.n_occupied,
           CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M}
             / (CAST(s.s_occ AS DOUBLE) + ({_HLL_M} - s.n_occupied))
             AS hll_estimate
    FROM s JOIN e ON e.grp = s.grp
    """


@register(
    "hll_distinct_users_by_type",
    oracle=_hll_grouped_sql(
        group_col="event_type",
        hash_expr=duck_h32("CAST(user_id AS VARCHAR)"),
        exact_expr="count(DISTINCT CAST(user_id AS VARCHAR))",
        table="events",
    ),
)
def hll_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HyperLogLog: distinct users PER EVENT TYPE, one pass —
    register rows are (group, bucket) keyed, so all groups' sketches build
    in a single map-side-combined aggregation and remain independently
    mergeable (the union of two days' sketches per group = register-wise
    max). Same bit-identical arithmetic as ``hll_distinct_user_days``;
    the exact column is the verification baseline.
    """
    from .hashes import spark_h32

    events = load_table(spark, sf_dir, "events")
    h = events.selectExpr(
        "event_type AS grp", f"{spark_h32('cast(user_id as string)')} AS h32"
    )
    reg = h.groupBy("grp", (F.col("h32") % _HLL_M).alias("bucket")).agg(
        F.expr(f"max({_rho_case(f'(h32 - (h32 % {_HLL_M})) / {_HLL_M}')})").alias(
            "rho"
        )
    )
    s = reg.groupBy("grp").agg(
        F.count("*").alias("n_occupied"),
        F.expr(
            f"cast(sum(cast({_pow2neg_case('rho')} as decimal(38,21)))"
            " as decimal(38,21))"
        ).alias("s_occ"),
    )
    e = events.groupBy(F.col("event_type").alias("grp")).agg(
        F.countDistinct(F.col("user_id").cast("string")).alias("n_exact")
    )
    return s.join(e, "grp").selectExpr(
        "grp AS event_type",
        "n_exact",
        "cast(n_occupied as bigint) AS n_occupied",
        f"cast({_HLL_ALPHA!r} as double) * {_HLL_M} * {_HLL_M}"
        f" / (cast(s_occ as double) + ({_HLL_M} - n_occupied)) AS hll_estimate",
    )


@register(
    "streaming_hll_update",
    # Same estimate as the batch sketch: the register map is a pure
    # register-wise max, so streaming folds and a batch GROUP BY reach
    # identical registers — the mergeability claim, externally checked.
    oracle=_hll_sql(
        hash_expr=duck_h32(
            "(CAST(user_id AS VARCHAR) || ':' || "
            "CAST(epoch_ns(ts) // 1000000000 // 86400 AS VARCHAR))"
        ),
        exact_expr=(
            "count(DISTINCT CAST(user_id AS VARCHAR) || ':' || "
            "CAST(epoch_ns(ts) // 1000000000 // 86400 AS VARCHAR))"
        ),
        table="events",
    ),
)
def streaming_hll_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog as LIVE streaming state: the register map (bucket →
    max rho) is maintained incrementally in update mode — max is
    associative, so each micro-batch folds into the registers without
    reprocessing history, and the state is EXACTLY m ≤ 4096 rows forever,
    whatever the stream's length or key cardinality. This is the streaming
    face of ``hll_distinct_user_days``: one sketch answers "distinct
    (user, day) pairs so far" at any point in the stream.

    Canonicalization: a register's rho only grows across its updates, so
    max-per-bucket over the drained update rows is each register's final
    value; the estimate arithmetic is the shared bit-identical pipeline.
    The exact baseline column is computed batch-side (it exists only to
    let the oracle verify the estimate).
    """
    from ..sources import chunked_stream
    from ..streaming.runner import STATE_PARTS, run_stream_to_table
    from .hashes import spark_h32

    pair = (
        "concat(cast(user_id as string), ':', "
        "cast(unix_timestamp(ts) div 86400 as string))"
    )

    # 4 chunks: per-batch store open/commit is the whole cost here (the
    # state is ≤4096 register rows); 4 batches still prove the cross-batch
    # register fold.
    events = chunked_stream(spark, sf_dir, "events", n_chunks=4)
    h = events.selectExpr(f"{spark_h32(pair)} AS h32")
    reg_stream = h.groupBy((F.col("h32") % _HLL_M).alias("bucket")).agg(
        F.expr(
            f"max({_rho_case(f'(h32 - (h32 % {_HLL_M})) / {_HLL_M}')})"
        ).alias("rho")
    )
    drained = run_stream_to_table(
        reg_stream, output_mode="update", parts=STATE_PARTS
    )
    reg = drained.groupBy("bucket").agg(F.max("rho").alias("rho"))
    s = reg.agg(
        F.count("*").alias("n_occupied"),
        F.expr(
            f"cast(sum(cast({_pow2neg_case('rho')} as decimal(38,21)))"
            " as decimal(38,21))"
        ).alias("s_occ"),
    )
    e = load_table(spark, sf_dir, "events").selectExpr(
        f"count(distinct {pair}) AS n_exact"
    )
    return s.crossJoin(F.broadcast(e)).selectExpr(
        "n_exact",
        "cast(n_occupied as bigint) AS n_occupied",
        f"cast({_HLL_ALPHA!r} as double) * {_HLL_M} * {_HLL_M}"
        f" / (cast(s_occ as double) + ({_HLL_M} - n_occupied)) AS hll_estimate",
    )


# --- Mergeable quantile sketch (deterministic KLL-style) --------------------
#
# The fourth classic distributed-summary shape beside cardinality (HLL),
# frequency (Misra-Gries) and membership (Bloom): a bounded summary that
# answers rank/quantile queries with a provable rank-error bound and is
# MERGEABLE (Agarwal et al., PODS'12; Karnin-Lall-Liberty, FOCS'16 for the
# KLL compactor). Production role: the one-pass answer where the exact
# narrowing kernels (operators/orderstats.py) need a second scan.
#
# Cross-engine determinism (the catalog's standing discipline): classic
# KLL flips a coin per compaction to keep odd- or even-ranked items; this
# implementation always keeps ODD ranks under the unique total order
# (value, event_id), making every survivor, weight and estimate a pure
# function of the data — the DuckDB oracle replays the identical
# compaction and the value hash must match bit-for-bit. Cost of
# determinism: the ±w/2 per-compaction rank drift is one-directional
# instead of zero-mean, so the error BOUND (not just the variance) is the
# guarantee; the pinned tests check the measured drift against it.
#
# Structure per entry: partition rows into sub-streams (hash shards here,
# calendar days in the merge entry), run L=2 keep-odd compactions INSIDE
# each sub-stream (weight 4 survivors, a 4x reduction — each compaction is
# one window + filter over the sub-stream, map-side parallel across
# shards), then answer quantiles from the weighted survivor multiset: a
# global cumulative weight (4 * row_number) and a 5-row band join picking
# the first survivor whose cumulative weight reaches each target rank.
# Rank-error budget: <= 3 weight-units per sub-stream (1 from L1 + 2 from
# L2) plus the final weight quantization — shards*3 + w ranks total.
#
# 100 TB shape: the per-shard compactions scale out with the shard count
# (the only full-data ops, each a sorted window inside its shard); the
# global stage consumes the 4x-compacted SUMMARY, and the level count L is
# the compile-time size/accuracy knob — at production scale L grows
# log(n/k) so survivors fit one executor (the KLL guarantee), after which
# the final stage is trivially small. L=2 here keeps the fixture's
# survivor set large enough that the oracle exercises a non-degenerate
# merge. The exact-rank audit columns (est_rank, rank_err_frac) exist so
# the oracle VERIFIES the sketch's error; a deployment drops them — the
# n_exact-column convention of the HLL entries.

_KLL_SHARDS = 32
_KLL_QS = (10, 25, 50, 75, 90)  # integer percents: exact arithmetic


def _kll_oracle_sql(shard_expr: str, weight: int, merge_compact: bool) -> str:
    """The whole sketch pipeline in DuckDB SQL (the Spark side mirrors it
    with DataFrame windows). ``shard_expr`` defines the sub-streams;
    ``merge_compact`` adds the union-then-compact step (weight doubles)."""
    qs = ", ".join(f"({q})" for q in _KLL_QS)
    merged = (
        """
    merged AS (
      SELECT v, i, row_number() OVER (ORDER BY v, i) AS rn FROM sk0
    ),
    sk AS (SELECT v, i FROM merged WHERE rn % 2 = 1),"""
        if merge_compact
        else """
    sk AS (SELECT v, i FROM sk0),"""
    )
    return f"""
    WITH base AS (
      SELECT value AS v, event_id AS i, ({shard_expr}) AS shard FROM events
    ),
    l1 AS (
      SELECT v, i, shard,
             row_number() OVER (PARTITION BY shard ORDER BY v, i) AS rn
      FROM base
    ),
    l2 AS (
      SELECT v, i, shard,
             row_number() OVER (PARTITION BY shard ORDER BY v, i) AS rn
      FROM l1 WHERE rn % 2 = 1
    ),
    sk0 AS (SELECT v, i FROM l2 WHERE rn % 2 = 1),{merged}
    ranked AS (
      SELECT v, i,
             {weight} * row_number() OVER (ORDER BY v, i) AS cw
      FROM sk
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    tgt AS (
      SELECT CAST(q_pct AS INTEGER) AS q_pct,
             CAST((q_pct * n + 99) // 100 AS BIGINT) AS target_rank, n
      FROM (VALUES {qs}) AS qv(q_pct), nn
    ),
    est AS (
      SELECT t.q_pct, t.target_rank, t.n, r.v AS est_value, r.i AS est_i
      FROM ranked r JOIN tgt t
        ON t.target_rank <= r.cw AND t.target_rank > r.cw - {weight}
    ),
    audit AS (
      -- the 5-row est frame's columns ride THROUGH the audit groupBy
      -- (each q_pct is one group), so the final projection reads the
      -- audit alone — the sketch pipeline is computed exactly once
      SELECT e.q_pct, e.est_value, e.target_rank, e.n,
             CAST(sum(CASE WHEN b.v < e.est_value
                             OR (b.v = e.est_value AND b.i <= e.est_i)
                           THEN 1 ELSE 0 END) AS BIGINT) AS est_rank
      FROM base b, est e
      GROUP BY e.q_pct, e.est_value, e.target_rank, e.n
    )
    SELECT q_pct, est_value, target_rank, est_rank,
           abs(CAST(est_rank AS DOUBLE) - CAST(target_rank AS DOUBLE))
             / CAST(n AS DOUBLE) AS rank_err_frac
    FROM audit
    """


def _kll_survivors(base: DataFrame) -> DataFrame:
    """Two keep-odd compactions inside each sub-stream of ``base``
    (columns v, i, shard) -> weight-4 survivors (v, i)."""
    w = Window.partitionBy("shard").orderBy("v", "i")
    l1 = (
        base.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") % 2 == 1)
        .drop("rn")
    )
    l2 = (
        l1.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") % 2 == 1)
        .drop("rn")
    )
    return l2.select("v", "i", "shard")


def _kll_quantile_frame(
    spark: SparkSession, base: DataFrame, sk: DataFrame, weight: int
) -> DataFrame:
    """Weighted-rank quantile answers + exact-rank audit, shared by both
    sketch entries. ``sk`` holds uniform-``weight`` survivors (v, i)."""
    ranked = sk.withColumn(
        "cw",
        (F.row_number().over(Window.orderBy("v", "i")) * weight).cast(
            "bigint"
        ),
    )
    nn = base.agg(F.count("*").cast("bigint").alias("n"))
    tgt = (
        spark.createDataFrame([(q,) for q in _KLL_QS], "q_pct int")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("q_pct").cast("int").alias("q_pct"),
            F.expr("CAST((q_pct * n + 99) DIV 100 AS BIGINT)").alias(
                "target_rank"
            ),
            "n",
        )
    )
    est = ranked.join(
        F.broadcast(tgt),
        (F.col("target_rank") <= F.col("cw"))
        & (F.col("target_rank") > F.col("cw") - weight),
    ).select(
        "q_pct",
        "target_rank",
        "n",
        F.col("v").alias("est_value"),
        F.col("i").alias("est_i"),
    )
    # The 5-row est frame's columns ride THROUGH the audit groupBy (each
    # q_pct is one group), so the final projection reads the audit alone —
    # without this the est lineage feeds both the audit build side and a
    # join-back, and Spark computes the whole sketch pipeline twice.
    audit = (
        base.crossJoin(F.broadcast(est))
        .groupBy("q_pct", "est_value", "target_rank", "n")
        .agg(
            F.sum(
                F.when(
                    (F.col("v") < F.col("est_value"))
                    | (
                        (F.col("v") == F.col("est_value"))
                        & (F.col("i") <= F.col("est_i"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("est_rank")
        )
    )
    return audit.select(
        "q_pct",
        "est_value",
        "target_rank",
        "est_rank",
        (
            F.abs(
                F.col("est_rank").cast("double")
                - F.col("target_rank").cast("double")
            )
            / F.col("n").cast("double")
        ).alias("rank_err_frac"),
    )


@register(
    "sketch_quantile_kll",
    oracle=_kll_oracle_sql(
        shard_expr=f"{duck_h32('CAST(event_id AS VARCHAR)')} % {_KLL_SHARDS}",
        weight=4,
        merge_compact=False,
    ),
)
def sketch_quantile_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KLL-style quantile sketch over ``events.value``:
    32 hash shards, two keep-odd compactions per shard (weight-4
    survivors), quantiles answered from the weighted survivor multiset,
    with the exact rank of every estimate audited in-query. See the
    section comment for the determinism contract, the error budget
    (<= 3 ranks/shard + weight quantization ~= 100 ranks here), and the
    100 TB shape. Contrast with ``exact_quantiles_multi``
    (operators/orderstats.py): that entry computes exact order statistics
    via the extent-histogram narrowing kernel (two passes over the data);
    this one is the one-pass bounded-summary answer whose survivors — not
    the data — feed the final stage, the trade a pipeline makes when the
    quantile is a monitoring/routing signal rather than a published exact
    statistic.
    """
    from .hashes import spark_h32

    base = load_table(spark, sf_dir, "events").select(
        F.col("value").alias("v"),
        F.col("event_id").alias("i"),
        (
            F.expr(spark_h32("cast(event_id as string)")) % _KLL_SHARDS
        ).alias("shard"),
    )
    sk = _kll_survivors(base).select("v", "i")
    return _kll_quantile_frame(spark, base, sk, weight=4)


@register(
    "sketch_quantile_merge_daily",
    oracle=_kll_oracle_sql(
        shard_expr="epoch_ns(ts) // 1000000000 // 86400",
        weight=8,
        merge_compact=True,
    ),
)
def sketch_quantile_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE of independently-built per-day quantile sketches — the
    operation that makes the structure a distributed summary (the reason
    the family exists at 100 TB: yesterday's sketch is never rebuilt,
    today's is folded in). Each calendar day builds its own weight-4
    sketch (two keep-odd compactions inside the day, exactly
    ``sketch_quantile_kll``'s kernel with day as the sub-stream); the
    merge step unions the day sketches — all survivors carry EQUAL weight,
    so the union is itself a valid sketch — and runs one more keep-odd
    compaction over the union (weight 8), the KLL merge-then-compact.
    Quantile answers + exact-rank audit then read the merged sketch only.
    Contrast with ``sketch_quantile_kll``: same compaction kernel, but the
    sub-streams are REAL partial datasets (days) and the entry's subject
    is the merge; with ``ohlc_daily_bars``/``window_distribution_family``:
    those compute per-day exact statistics, this one ships a bounded
    per-day summary that still answers GLOBAL quantiles after merging.
    """
    base = load_table(spark, sf_dir, "events").select(
        F.col("value").alias("v"),
        F.col("event_id").alias("i"),
        F.expr("unix_timestamp(ts) div 86400").alias("shard"),
    )
    day_sk = _kll_survivors(base)
    merged = (
        day_sk.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "i"))
        )
        .where(F.col("rn") % 2 == 1)
        .select("v", "i")
    )
    return _kll_quantile_frame(spark, base, merged, weight=8)


# --- KMV (k-minimum-values) bottom-k distinct sketch + set operations ------
# The fourth classic distributed-summary shape alongside cardinality (HLL),
# frequency (Misra-Gries), membership (Bloom) and quantiles (KLL): a
# bottom-k sketch SUPPORTS SET OPERATIONS — union of two sketches is the
# bottom-k of the union, and the union sketch estimates Jaccard /
# intersection directly (Bar-Yossef et al., RANDOM'02; Beyer et al.,
# SIGMOD'07; Cohen & Kaplan bottom-k sketches, PODS'07) — the operation
# HLL fundamentally cannot do well (inclusion-exclusion error blows up on
# small intersections). Estimator: with S_A, S_B the k smallest element
# hashes of A and B, let kk = min(k, |S_A u S_B|), K = kk-th smallest of
# S_A u S_B; then J ~= |{h in S_A n S_B : h <= K}| / kk and
# |A u B| ~= (kk - 1) * 2^60 / K for uniform 60-bit hashes. Everything is
# integer ranks and single-op IEEE divisions — deterministic, so the
# DuckDB oracle replays it bit-for-bit (the catalog's standing
# discipline; no randomness anywhere).
_KMV_K = 256
_KMV_SHARDS = 32
_KMV_POW2_60 = float(1 << 60)  # exactly representable


@register(
    "sketch_kmv_jaccard",
    oracle=f"""
    WITH base AS (
      SELECT DISTINCT event_type AS t,
             {duck_h60("(CAST(user_id AS VARCHAR) || ':' || "
                       "CAST(epoch_ns(ts) // 1000000000 // 86400 AS VARCHAR))")} AS h
      FROM events
    ),
    -- Distinct rank names per tier (ADVICE r13): the shard rank and the
    -- per-type rank must not share a name, or the inner WHERE's binding
    -- (t1's column vs the same-named row_number alias) rests on the
    -- engine's shadowing rules instead of being spelled out.
    t1 AS (
      SELECT t, h,
             row_number() OVER (PARTITION BY t, h % {_KMV_SHARDS}
                                ORDER BY h) AS rk_shard
      FROM base
    ),
    sk AS (
      SELECT t, h FROM (
        SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rk_type
        FROM t1 WHERE rk_shard <= {_KMV_K}
      ) WHERE rk_type <= {_KMV_K}
    ),
    tp AS (
      SELECT a.t AS type_a, b.t AS type_b
      FROM (SELECT DISTINCT t FROM sk) a
      JOIN (SELECT DISTINCT t FROM sk) b ON a.t < b.t
    ),
    un AS (
      SELECT type_a, type_b, h, max(in_a) AS in_a, max(in_b) AS in_b
      FROM (
        SELECT tp.type_a, tp.type_b, sk.h, 1 AS in_a, 0 AS in_b
        FROM sk JOIN tp ON sk.t = tp.type_a
        UNION ALL
        SELECT tp.type_a, tp.type_b, sk.h, 0, 1
        FROM sk JOIN tp ON sk.t = tp.type_b
      ) GROUP BY 1, 2, 3
    ),
    rk AS (
      SELECT type_a, type_b, h, in_a, in_b,
             row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn,
             least({_KMV_K}, count(*) OVER (PARTITION BY type_a, type_b)) AS kk
      FROM un
    ),
    est AS (
      SELECT type_a, type_b,
             max(kk) AS kk,
             max(CASE WHEN rn = kk THEN h END) AS kth_h,
             CAST(sum(CASE WHEN rn <= kk AND in_a = 1 AND in_b = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS m
      FROM rk GROUP BY 1, 2
    ),
    sz AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1),
    ex0 AS (
      SELECT a.t AS type_a, b.t AS type_b, CAST(count(*) AS BIGINT) AS n_inter
      FROM base a JOIN base b ON a.h = b.h AND a.t < b.t
      GROUP BY 1, 2
    ),
    -- LEFT join + coalesce: disjoint type pairs (exact intersection 0)
    -- must still be reported — the estimator's m = 0 case
    ex AS (
      SELECT e.type_a, e.type_b, e.kk, e.kth_h, e.m,
             coalesce(x.n_inter, 0) AS n_inter
      FROM est e LEFT JOIN ex0 x
        ON e.type_a = x.type_a AND e.type_b = x.type_b
    )
    SELECT e.type_a, e.type_b,
           CAST(e.m AS DOUBLE) / e.kk AS kmv_jaccard,
           CAST(e.n_inter AS DOUBLE) / (sa.n + sb.n - e.n_inter)
             AS exact_jaccard,
           abs(CAST(e.m AS DOUBLE) / e.kk
               - CAST(e.n_inter AS DOUBLE) / (sa.n + sb.n - e.n_inter))
             AS jaccard_abs_err,
           -- Fail-loud zero guard (ADVICE r13): a 60-bit hash of 0 is
           -- representable, and kk=1 with that single hash would divide
           -- by zero — both engines would emit Infinity, a silent
           -- nonsense estimate. The IS NULL disjunct mirrors the
           -- _PACK_GUARD convention (Spark's otherwise-raise fires on
           -- NULL; a bare CASE would fall through silently).
           CASE WHEN e.kth_h IS NULL OR e.kth_h <= 0
                THEN error('KMV union estimator: kth union hash <= 0 '
                           || '(degenerate kk=1 sketch) — estimate undefined')
                ELSE CAST(e.kk - 1 AS DOUBLE) * {_KMV_POW2_60!r}
                     / CAST(e.kth_h AS DOUBLE)
           END AS kmv_union,
           sa.n + sb.n - e.n_inter AS exact_union
    FROM ex e
    JOIN sz sa ON e.type_a = sa.t
    JOIN sz sb ON e.type_b = sb.t
    """,
)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k sketches of each event type's (user, day) activity set
    and the pairwise Jaccard / union-size estimates read off them, with
    the exact values as the verification baseline (the ``n_exact`` column
    convention of the HLL entries — a deployment drops the exact side).

    Contrast with ``hll_distinct_users_by_type``: HLL answers "how many
    distinct" per group; KMV answers how two groups' sets RELATE — union,
    intersection, Jaccard — because the k smallest hashes of A u B are
    computable from the k smallest of A and of B (a bottom-k union is a
    merge, the mergeability that makes it a distributed summary). The
    sketch of every type builds in one pass; pair arithmetic then touches
    only k-row sketches, never the data.

    Scale shape: the element scan reduces to DISTINCT (type, hash) — one
    shuffle with map-side combine; the bottom-k runs two-tier (the
    distributed top-k pattern): rank within (type, hash-shard) bounds
    every shard's contribution at k, then the per-type merge ranks
    <= shards*k survivors — no single-partition sort of a full type at
    any scale. Everything downstream of the sketches is vocabulary-free
    pair algebra over <= types*k rows (broadcast-joined). The exact audit
    columns are the only full-data pair computation and exist to verify
    the estimator; production keeps the sketch side only.

    Determinism: element sets are sets OF 60-BIT HASHES (collisions merge
    identically in both engines before ranking); ranks order by the
    distinct h alone; estimates are integer ratios / single-op IEEE
    divisions — identical expression trees in both dialects.
    """
    from .hashes import spark_h60

    events = load_table(spark, sf_dir, "events")
    elem = (
        "concat(cast(user_id as string), ':', "
        "cast(unix_timestamp(ts) div 86400 as string))"
    )
    base = events.selectExpr(
        "event_type AS t", f"{spark_h60(elem)} AS h"
    ).distinct()
    return kmv_pair_estimates(base)


def kmv_pair_estimates(base: DataFrame) -> DataFrame:
    """The KMV pair-estimate kernel over a DISTINCT (t, h) element frame —
    factored so tests can drive it with synthetic integer hash sets (the
    KLL convention; md5 parity is pinned module-wide, so the kernel tests
    rank/union/estimator logic directly).

    ``base`` is cached: the hash+distinct frame feeds four subtrees (the
    sketch ranks, the per-type sizes, and both sides of the exact
    intersection join) — the dedup module's reused-distinct convention.

    r15 restructure (VERDICT r14 #5, guide §2.3/§2.4): the per-type
    sketch's SECOND rank tier and the entire pair machinery (two
    tag-joins, a union, a pair-keyed re-rank window, a final aggregation —
    ~2.6 s of the 4.5 s entry at sf0.1 on rows that number ≤ types×k)
    collapse into BOUNDED ARRAY algebra. Tier 1 — the shard rank that
    keeps every sort partition-sized at any scale — stays a window; its
    ≤ shards×k survivors per type then aggregate into ONE sorted
    bottom-k array per type (collect_list bounded at shards×k = 8192
    rows), and each type pair's (kk, kth_h, m) is computed from the two
    ≤k-element arrays with sort/distinct/filter expressions — zero
    exchanges, zero windows downstream of the shard rank. A bottom-k
    union IS a merge of bottom-k sketches, so working on the k-row
    sketches as arrays is the estimator's own mergeability argument
    (docstring above) spelled in the plan. Two-tier-window spelling kept
    as :func:`_kmv_pair_estimates_two_tier`; row-identity pinned by
    tests/test_sketches.py::test_kmv_array_kernel_equals_two_tier and the
    Python-reference kernel tests."""
    base = base.cache()
    t1 = base.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("t", F.col("h") % _KMV_SHARDS).orderBy("h")
        ),
    ).where(F.col("rk") <= _KMV_K)
    # Tier 2 as a bounded array aggregation: bottom-k of the shard
    # survivors == bottom-k of the full type set (each shard contributed
    # its own bottom-k, and k smallest overall are k smallest of the
    # per-shard k-smallest unions).
    sk_arr = t1.groupBy("t").agg(
        F.slice(F.array_sort(F.collect_list("h")), 1, _KMV_K).alias("hs")
    )
    pairs = sk_arr.select(
        F.col("t").alias("type_a"), F.col("hs").alias("ha")
    ).join(
        F.broadcast(
            sk_arr.select(F.col("t").alias("type_b"), F.col("hs").alias("hb"))
        ),
        F.col("type_a") < F.col("type_b"),
    )
    # Union sketch of the pair: distinct merged hashes, ascending — the
    # same multiset the old union+re-rank produced, as one array. kk,
    # kth_h and the intersection count m read straight off it; membership
    # tests replace the in_a/in_b tag columns.
    est = pairs.selectExpr(
        "type_a",
        "type_b",
        f"least({_KMV_K}, size(array_sort(array_distinct(concat(ha, hb)))))"
        " AS kk",
        f"element_at(array_sort(array_distinct(concat(ha, hb))),"
        f" least({_KMV_K}, size(array_sort(array_distinct(concat(ha, hb))))))"
        " AS kth_h",
        f"cast(size(filter(slice(array_sort(array_distinct(concat(ha, hb))),"
        f" 1, least({_KMV_K}, size(array_sort(array_distinct(concat(ha,"
        f" hb)))))), x -> array_contains(ha, x) AND array_contains(hb, x)))"
        " AS BIGINT) AS m",
    )
    return _kmv_finalize(base, est)


def _kmv_pair_estimates_two_tier(base: DataFrame) -> DataFrame:
    """The pre-r15 two-tier-window spelling of the pair-estimate kernel,
    kept as the differential baseline for the array restructure (the
    shared-memo convention: the equivalence stays an executable claim)."""
    base = base.cache()
    t1 = base.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("t", F.col("h") % _KMV_SHARDS).orderBy("h")
        ),
    ).where(F.col("rk") <= _KMV_K)
    sk = (
        t1.withColumn(
            "rk2", F.row_number().over(Window.partitionBy("t").orderBy("h"))
        )
        .where(F.col("rk2") <= _KMV_K)
        .select("t", "h")
    )
    types = sk.select("t").distinct()
    tp = (
        types.select(F.col("t").alias("type_a"))
        .join(
            F.broadcast(types.select(F.col("t").alias("type_b"))),
            F.col("type_a") < F.col("type_b"),
        )
    )
    ea = sk.join(F.broadcast(tp), sk["t"] == tp["type_a"]).select(
        "type_a", "type_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    eb = sk.join(F.broadcast(tp), sk["t"] == tp["type_b"]).select(
        "type_a", "type_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    un = (
        ea.unionAll(eb)
        .groupBy("type_a", "type_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    pw = Window.partitionBy("type_a", "type_b")
    ranked = un.select(
        "*",
        F.row_number().over(pw.orderBy("h")).alias("rn"),
        F.least(F.lit(_KMV_K), F.count("*").over(pw)).alias("kk"),
    )
    est = ranked.groupBy("type_a", "type_b").agg(
        F.max("kk").alias("kk"),
        F.max(F.when(F.col("rn") == F.col("kk"), F.col("h"))).alias("kth_h"),
        F.sum(
            F.when(
                (F.col("rn") <= F.col("kk"))
                & (F.col("in_a") == 1)
                & (F.col("in_b") == 1),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("m"),
    )
    return _kmv_finalize(base, est)


def _kmv_finalize(base: DataFrame, est: DataFrame) -> DataFrame:
    """Attach the exact-audit columns and the estimator arithmetic to an
    (type_a, type_b, kk, kth_h, m) sketch-estimate frame — shared by the
    array and two-tier spellings so the output expressions cannot drift."""
    sz = base.groupBy("t").agg(F.count("*").cast("bigint").alias("n"))
    ba = base.select(F.col("t").alias("type_a"), "h")
    bb = base.select(F.col("t").alias("type_b"), "h")
    ex = (
        ba.join(bb, "h")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    out = (
        # LEFT join + coalesce: disjoint type pairs (exact intersection 0)
        # must still be reported — the estimator's m = 0 case
        est.join(ex, ["type_a", "type_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0).cast("bigint")))
        .join(
            F.broadcast(sz.select(F.col("t").alias("type_a"), F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sz.select(F.col("t").alias("type_b"), F.col("n").alias("n_b"))),
            "type_b",
        )
    )
    kmv_j = F.col("m").cast("double") / F.col("kk")
    ex_j = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return out.select(
        "type_a",
        "type_b",
        kmv_j.alias("kmv_jaccard"),
        ex_j.alias("exact_jaccard"),
        F.abs(kmv_j - ex_j).alias("jaccard_abs_err"),
        # Fail-loud zero guard (ADVICE r13) — see the oracle's CASE:
        # kth_h <= 0 (degenerate kk=1 sketch whose one hash is 0) would
        # divide by zero into a silent Infinity estimate in both engines.
        # F.when's otherwise-raise also fires when kth_h is NULL, matching
        # the oracle's IS NULL disjunct.
        F.when(
            F.col("kth_h") > 0,
            (F.col("kk") - 1).cast("double")
            * F.lit(_KMV_POW2_60)
            / F.col("kth_h").cast("double"),
        )
        .otherwise(
            F.raise_error(
                "KMV union estimator: kth union hash <= 0 (degenerate "
                "kk=1 sketch) — estimate undefined"
            )
        )
        .alias("kmv_union"),
        (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias("exact_union"),
    )
