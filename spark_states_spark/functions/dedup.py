"""Deduplication operators for training-data pipelines.

Text families over the ``documents`` table, all pure built-in expressions
(no Python UDFs — every hash is an md5-derived expression, portable to the
DuckDB oracle; see ``hashes.py`` for the 100 TB swap-to-xxhash64 note);
the fifth family, embedding-cosine near-dup, lives in ``similarity.py``:

- **exact**: md5 content fingerprint, hash-groupBy. One shuffle on the
  digest; at scale this is the cheapest possible dedup (shuffle keys are
  16-byte digests, not documents). Streaming twin:
  ``streaming/queries.py::streaming_doc_dedup``.
- **MinHash + LSH**: explode-shingled 16-perm minhash signature (min()
  aggregates over per-shingle hashes) → 4 bands → bucket join. Candidate
  generation never compares all pairs: the band join only shuffles
  (band_hash, doc_id) tuples, and bucket sizes bound the quadratic term.
- **SimHash**: 32-bit sign-aggregated token-hash fingerprint; identical
  fingerprints → near-dup cluster. Linear, no pair join at all.
- **n-gram Jaccard**: candidates-then-verify — inverted index on rare
  (df ≤ 50) shingle hashes, pairs with ≥ 3 shared rare shingles, exact
  Jaccard via array_intersect on the survivors.
- **prefix-filtered exact Jaccard**: the zero-recall-loss counterpart —
  AllPairs/PPJoin prefix + length + positional filters prune candidates
  with a completeness guarantee instead of a df cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import SHARED_MEMOS, register
from ..lifetime import checkpoint, shared, unpin
from ..session import shuffle_partitions
from ..sources import load_table, load_table_fanned
from ..sources.tables import fixture_key
from .hashes import (
    DUCK_TOKS,
    MINHASH_P,
    PERM_A,
    PERM_B,
    SPARK_TOKS,
    duck_h32,
    duck_h60,
    duck_minhash_cte,
    spark_h32,
    spark_h60,
)

_N_PERM = 16
_BANDS = 4
_ROWS_PER_BAND = _N_PERM // _BANDS
_SHINGLE_K = 3
# Band buckets larger than this are triangle-block salted (functions/skew.py)
# so one hot bucket can't become a single quadratic straggler task. ~10k rows
# → ≤ ~10⁸ candidate checks per task, seconds of JVM work.
_BAND_BUCKET_CAP = 10_000


def _exploded_shingle_hashes(d: DataFrame, hash_fn) -> DataFrame:
    """documents → one row per (doc_id, shingle-hash), duplicates included.

    Tokens are materialized in their own projection and shingles generated
    by exploding an index sequence — NOT by array lambdas over a held
    token array. The lambda form loses to Catalyst's CollapseProject,
    which inlines the regex tokenizer into the per-shingle lambda body
    (one full regexp_replace pass per shingle — measured ~4× slower at
    sf0.1); a Generate node is a collapse barrier, so here the regex runs
    once per document and each shingle is a cheap slice + md5.
    """
    toks = SPARK_TOKS.format(col="text")
    idx = (
        f"explode(CASE WHEN size(toks) >= {_SHINGLE_K} "
        f"THEN sequence(0, size(toks) - {_SHINGLE_K}) ELSE array() END)"
    )
    h = hash_fn(f"concat_ws(' ', slice(toks, i + 1, {_SHINGLE_K}))")
    return (
        d.selectExpr("doc_id", f"{toks} AS toks")
        .selectExpr("doc_id", "toks", f"{idx} AS i")
        .selectExpr("doc_id", f"{h} AS s")
    )


@register(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS fingerprint,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content digest (shuffle on 16-byte key)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("fingerprint"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


@register(
    "dedup_exact_keep_first",
    oracle="""
    SELECT doc_id, lang, source
    FROM (SELECT doc_id, lang, source,
                 row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM documents)
    WHERE rn = 1
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated corpus: keep the lowest doc_id per content digest."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


def _minhash_sig_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, sig array<bigint>[16], bands array<string>[4]).

    Shape: explode shingles (_exploded_shingle_hashes), md5 each ONCE,
    and fold the 16 permutations as plain ``min()`` aggregates with
    literal (a_j, b_j) constants. The alternative — array lambdas over a
    held shingle array — loses to Catalyst's CollapseProject, which
    inlines the shared md5 pass into every permutation lambda (16× md5
    per shingle, measured ~5× slower end-to-end). The explode shape keeps
    md5 linear, runs entirely in whole-stage codegen, and the groupBy is
    map-side-combinable: each partition pre-folds to one row per doc
    before the doc_id shuffle. Duplicate shingles need no array_distinct:
    ``min`` is duplicate-insensitive, so the signature is identical to
    the distinct-shingle-set definition the oracle computes.
    """
    d = load_table_fanned(spark, sf_dir, "documents", key="doc_id")
    ex = _exploded_shingle_hashes(d, spark_h32).withColumnRenamed("s", "h")
    mins = [
        F.expr(f"min(({PERM_A[j]}L * h + {PERM_B[j]}L) % {MINHASH_P})").alias(f"m{j}")
        for j in range(_N_PERM)
    ]
    sig_arr = "array(" + ",".join(f"m{j}" for j in range(_N_PERM)) + ")"
    bands = (
        f"transform(sequence(0, {_BANDS - 1}), b -> "
        f"md5(concat(cast(b as string), '|', "
        f"concat_ws(',', transform(slice(sig, b * {_ROWS_PER_BAND} + 1, "
        f"{_ROWS_PER_BAND}), x -> cast(x as string))))))"
    )
    return (
        ex.groupBy("doc_id")
        .agg(*mins)
        .selectExpr("doc_id", f"{sig_arr} AS sig")
        .selectExpr("doc_id", "sig", f"{bands} AS bands")
    )


def _duck_minhash_cte() -> str:
    """DuckDB twin of :func:`_minhash_sig_df` — same explode-then-min
    shape; see hashes.py::duck_minhash_cte for why it is row-oriented
    (DuckDB 1.0 re-inlines CTEs per reference — VERDICT r06 #1)."""
    return duck_minhash_cte(_N_PERM, _BANDS, _ROWS_PER_BAND, _SHINGLE_K)


# One signature-banding-verify pass serves the minhash entry AND the
# connected-components cluster family (r14, guide §1.2: _cc_labels built
# its pair graph by re-running this whole pipeline even though the pair
# entry had just executed it — the same duplicate-pass shape the
# cc_labels / funnel / interval_fo / embedding_pairs memos eliminate).
# The shared frame is the pair entry's OWN output (doc_a, doc_b,
# est_jaccard), eagerly checkpoint-materialized under the "minhash_pairs"
# lifetime tag.


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (doc_a, doc_b, est_jaccard) candidate-pair stream — one
    ingest serving the minhash entry and the CC label build."""
    return shared(
        spark,
        "minhash_pairs",
        fixture_key(sf_dir, "documents"),
        lambda: checkpoint(_build_minhash_pairs(spark, sf_dir)),
    )


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_duck_minhash_cte()},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(len([i for i in range({_N_PERM})
                     if sa.sig[i + 1] = sb.sig[i + 1]]) AS DOUBLE) / {_N_PERM}
             AS est_jaccard
    FROM pairs p JOIN sig sa ON p.doc_a = sa.doc_id
                 JOIN sig sb ON p.doc_b = sb.doc_id
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs + signature-estimated Jaccard.
    Returns the shared, materialized pair stream (_minhash_pairs) — this
    entry is the pipeline's carrier; the CC cluster family derives its
    pair graph from the same materialization."""
    return _minhash_pairs(spark, sf_dir)


def _build_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual pair pipeline (un-memoized).

    Scale shape: the only shuffles are (band_hash → doc_id) for candidate
    buckets and doc_id for the signature re-join. No all-pairs stage exists
    anywhere, and a hot band bucket (a large exact/near-dup cluster all
    sharing one band hash) is triangle-block salted (functions/skew.py) so
    its quadratic pair space runs as many bounded tasks, not one straggler.
    """
    from .skew import salted_pair_join

    # Exact hot-bucket bound: a band hash embeds its band index, so one
    # document contributes at most ONE row to any bucket → bucket size
    # ≤ n_docs. n_docs comes from parquet metadata (a count-star scan reads
    # no columns). When the bound clears the cap, salted_pair_join skips
    # the count pre-pass entirely (functions/skew.py tier 1) — no probe
    # job, no cache needed (recomputing the signature chain is cheaper
    # than InMemoryRelation encode/decode of its array columns, measured
    # ~0.3 s at sf0.1). Past the cap the probe runs and the signature
    # table IS cached: there the two-pass shape is live and at 100 TB this
    # cache becomes a checkpoint/recompute decision (VERDICT r03 note).
    n_docs = load_table(spark, sf_dir, "documents").count()
    sig = _minhash_sig_df(spark, sf_dir)
    if n_docs > _BAND_BUCKET_CAP:
        sig = sig.cache()
    cand = sig.select("doc_id", F.explode("bands").alias("bh"))
    pairs = (
        salted_pair_join(
            cand, "bh", "doc_id", cap=_BAND_BUCKET_CAP, max_group_bound=n_docs
        )
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            f"cast(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), "
            f"z -> z)) as double) / {_N_PERM} AS est_jaccard",
        )
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {DUCK_TOKS.format(col='text')} AS toks FROM documents),
    hashed AS (
      SELECT doc_id, [{duck_h32('t')} for t in toks] AS th
      FROM tok WHERE len(toks) > 0
    ),
    fp AS (
      SELECT doc_id,
             -- CAST: list_sum yields HUGEINT, which pandas materializes as
             -- float64 — the driver's value-hash then sees 167563097.0 vs
             -- Spark's int64 167563097 and fails (VERDICT r02, What's wrong #1).
             CAST(list_sum([CASE WHEN list_sum([
                 CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END for h in th]) >= 0
               THEN (1::BIGINT << b) ELSE 0 END for b in range(32)]) AS BIGINT) AS simhash
      FROM hashed
    )
    SELECT doc_id, simhash,
           CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS cluster_size
    FROM fp
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per doc + cluster size (identical = near-dup).

    Linear cost, no pair join — the scale-path complement of MinHash-LSH
    for high-similarity detection.

    Formulation (r06, 10× at sf0.1): bit b of the fingerprint is set iff
    the ±1 majority vote over token-hash bits is ≥ 0, i.e. iff
    2·(count of tokens with bit b set) ≥ n_tokens — so instead of the
    doubly-nested higher-order ``aggregate`` (32 interpreted lambda passes
    over every token array; 8.8 s at sf0.1), explode the hashed tokens and
    take 32 codegen'd conditional sums + a count in ONE whole-stage-codegen
    aggregation (0.9 s, bit-identical). 100 TB shape: explode feeds
    map-side partial aggregation, so the shuffle carries one 33-long row
    per doc per map partition, not the exploded tokens.
    """
    from functools import reduce as _reduce

    d = load_table(spark, sf_dir, "documents")
    toks = SPARK_TOKS.format(col="text")
    th = f"transform(toks, t -> {spark_h32('t')})"
    ex = (
        d.selectExpr("doc_id", f"{toks} AS toks")
        .filter(F.expr("size(toks) > 0"))
        .selectExpr("doc_id", f"explode({th}) AS h")
    )
    agg = ex.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"c{b}")
            for b in range(32)
        ],
    )
    simhash = _reduce(
        lambda a, b: a + b,
        [
            F.when(F.col(f"c{b}") * 2 >= F.col("n"), F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for b in range(32)
        ],
    )
    return agg.select("doc_id", simhash.alias("simhash")).withColumn(
        "cluster_size", F.count("*").over(W.partitionBy("simhash"))
    )


_DF_CAP = 50  # rare-shingle document-frequency cap for candidate generation
_MIN_SHARED = 3  # candidate support: pairs must share ≥ this many rare shingles
# Per-doc shingle-set cap: verification keeps only the _SHINGLE_CAP smallest
# 60-bit hashes per doc (a bottom-k minwise sketch — an unbiased Jaccard
# estimator when a doc exceeds the cap, exact below it), bounding row width
# for pathological documents. Fixture docs are far below the cap, so the
# oracle (which applies the identical rule) stays value-exact.
_SHINGLE_CAP = 4096


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {DUCK_TOKS.format(col='text')} AS toks FROM documents),
    -- row-oriented shingle hashing (same rationale as duck_minhash_cte:
    -- DuckDB re-inlines CTEs per reference, so a per-row comprehension
    -- here re-ran for every downstream reader — VERDICT r06 #1); DISTINCT
    -- over (doc_id, hash) matches the engine's exploded .distinct()
    inv AS (
      SELECT DISTINCT doc_id, {duck_h60('s')} AS s
      FROM (SELECT doc_id,
                   unnest([array_to_string(toks[i + 1 : i + {_SHINGLE_K}], ' ')
                           for i in range(greatest(len(toks) - {_SHINGLE_K - 1}, 0))]) AS s
            FROM tok)
    ),
    -- bottom-k sketch cap (engine's _SHINGLE_CAP rule, identical);
    -- list() feeds list_intersect/len, which are order-insensitive
    sized AS (
      SELECT doc_id, list(s) AS shs, count(*) AS n
      FROM (SELECT doc_id, s,
                   row_number() OVER (PARTITION BY doc_id ORDER BY s) AS rk
            FROM inv)
      WHERE rk <= {_SHINGLE_CAP} GROUP BY doc_id
    ),
    rare AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= {_DF_CAP}),
    rinv AS (SELECT i.doc_id, i.s FROM inv i JOIN rare r ON i.s = r.s),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rinv a JOIN rinv b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= {_MIN_SHARED}
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(sa.shs, sb.shs)) AS BIGINT) AS n_inter,
           CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
             / (sa.n + sb.n - len(list_intersect(sa.shs, sb.shs))) AS jaccard
    FROM cand JOIN sized sa ON cand.doc_a = sa.doc_id
              JOIN sized sb ON cand.doc_b = sb.doc_id
    WHERE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
            / (sa.n + sb.n - len(list_intersect(sa.shs, sb.shs))) >= 0.3
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard ≥ 0.3: candidates-then-verify.

    Scale shape (the standard one): the inverted index joins only on
    *rare* shingles (document frequency ≤ 50) — high-df stop-shingles
    would make the self-join quadratic in df and contribute no candidate a
    rare shingle doesn't — and a pair becomes a candidate only with ≥ 3
    shared rare shingles (measured at sf0.1: support ≥ 3 cuts the verify
    set from 1.13 M to 10 K pairs while every true ≥ 0.3-Jaccard pair of
    non-trivial length shares far more). Verification computes the exact
    Jaccard over each candidate pair's full shingle sets with a JVM
    array_intersect — no per-shingle shuffle in the verify phase.
    Shingles travel as 60-bit hashes, so shuffles carry ints, not strings.

    Pairs whose overlap is entirely stop-shingles or < 3 shingles are not
    surfaced — the documented candidate-recall trade of df-capped,
    support-thresholded dedup; the oracle applies the identical rule.
    """
    d = load_table_fanned(spark, sf_dir, "documents", key="doc_id")
    ex = _exploded_shingle_hashes(d, spark_h60).distinct().cache()
    # Bottom-k cap BEFORE collect_list so a pathological document never
    # materializes an unbounded array row (_SHINGLE_CAP rationale above).
    # The row_number window partitions by doc_id — the same key the groupBy
    # shuffles on, so no extra exchange is introduced.
    w = W.partitionBy("doc_id").orderBy("s")
    capped = (
        ex.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= _SHINGLE_CAP)
        .drop("_rk")
    )
    sized = capped.groupBy("doc_id").agg(
        F.collect_list("s").alias("shs"), F.count("*").alias("n")
    )
    # Candidate generation in ONE shingle-keyed shuffle (r10; was three —
    # groupBy(s) for df, a 100M-row join back onto the index, and an
    # index self-join): the df cap bounds every surviving bucket at
    # _DF_CAP docs, so the bucket's (a < b) pairs expand in-row from the
    # sorted doc list (≤ C(50,2) structs, whole-stage codegen) instead of
    # through a join. Identical candidate set: df = bucket size over the
    # DISTINCT (doc, shingle) index, support = shared rare shingles.
    buckets = (
        ex.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= _DF_CAP))
    )
    pair = F.explode(
        F.expr(
            "flatten(transform(sequence(0, size(docs) - 2), i -> "
            "transform(slice(docs, i + 2, size(docs) - i - 1), d -> "
            "struct(docs[i] AS doc_a, d AS doc_b))))"
        )
    ).alias("p")
    cand = (
        buckets.select(pair)
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _MIN_SHARED)
        .select("doc_a", "doc_b")
    )
    sa = sized.select(
        F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"), F.col("n").alias("n_a")
    )
    sb = sized.select(
        F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"), F.col("n").alias("n_b")
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("shs_a", "shs_b")).cast("bigint"))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
    )
    return verified.filter(F.col("jaccard") >= 0.3).select(
        "doc_a", "doc_b", "n_inter", "jaccard"
    )


# Connected-components clustering over the near-dup pair graph: pairs say
# "these two are duplicates"; what a curation pipeline actually needs is the
# CLUSTER (keep one doc per component, drop the rest). Threshold on the
# signature-estimated Jaccard — multiples of 1/16, so >= 0.5 is exact in
# both engines.
_CC_EST_THRESHOLD = 0.5
_CC_MAX_ITERS = 20

# One CC run serving both cluster entries (r07, the funnel-pair pattern):
# dedup_cluster_keep_best is by design a composition over the clustering
# kernel's labels, so recomputing the whole pairs chain + iterative loop per
# entry duplicated ~4 s of identical work. connected_components returns an
# EAGERLY checkpoint-materialized frame, so the second reader gets real
# materialized labels, not a lazy plan. Shared under the "cc_labels"
# lifetime tag, so bench best-of-N re-runs of a participating entry re-pay
# the clustering.


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        spark,
        "cc_labels",
        fixture_key(sf_dir, "documents"),
        lambda: connected_components(
            _minhash_pairs(spark, sf_dir)
            .filter(F.col("est_jaccard") >= _CC_EST_THRESHOLD)
            .select("doc_a", "doc_b")
        ),
    )


# The CC entries also read "minhash_pairs" so their re-runs (bench
# best-of-N / isolated adjudication) re-pay the pair generation their
# label build depends on, not just the label loop — first-touch means
# first-touch of the whole dependency chain.
SHARED_MEMOS.update(
    {
        "cc_labels": {
            "dedup_cluster_connected_components",
            "dedup_cluster_keep_best",
        },
        "minhash_pairs": {
            "dedup_minhash_lsh_pairs",
            "dedup_cluster_connected_components",
            "dedup_cluster_keep_best",
        },
    }
)


@register(
    "dedup_cluster_connected_components",
    oracle=f"""
    WITH RECURSIVE {_duck_minhash_cte()},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    sim AS (
      SELECT p.doc_a, p.doc_b
      FROM pairs p JOIN sig sa ON p.doc_a = sa.doc_id
                   JOIN sig sb ON p.doc_b = sb.doc_id
      WHERE CAST(len([i for i in range({_N_PERM})
                      if sa.sig[i + 1] = sb.sig[i + 1]]) AS DOUBLE) / {_N_PERM}
            >= {_CC_EST_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM sim
      UNION ALL
      SELECT doc_b, doc_a FROM sim
    ),
    reach(doc_id, label) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.doc_id
    ),
    comp AS (SELECT doc_id, min(label) AS component_id FROM reach GROUP BY doc_id)
    SELECT doc_id, component_id,
           CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
             AS component_size
    FROM comp
    """,
)
def dedup_cluster_connected_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    MinHash-LSH pair graph (est_jaccard >= 0.5), labeling every clustered
    doc with min(doc_id) of its component — the canonical "keeper".

    Algorithm: min-label propagation with pointer jumping. Each round
    (a) lowers every node's label to the min over its neighbors' labels
    (one join on the cached edge list) and (b) shortcuts label chains by
    one hop (label := label's label). Step (b) is the doubling trick —
    label chains halve each round, so convergence is O(log n) rounds even
    on path-shaped components, vs O(diameter) for plain propagation; the
    classic large-star/small-star map-reduce CC has the same bound and
    would be the drop-in at 100 TB if edge lists themselves were skewed.
    Per-round lineage is truncated with a local checkpoint (a production
    run uses a checkpoint dir for fault tolerance); the convergence probe is
    an EXISTS-style ``limit(1).count()``, not a full-table count.
    """
    labels = _cc_labels(spark, sf_dir)
    w = W.partitionBy("label")
    return labels.select(
        "doc_id",
        F.col("label").alias("component_id"),
        F.count("*").over(w).cast("bigint").alias("component_size"),
    )


def connected_components(pairs: DataFrame, max_iters: int = _CC_MAX_ITERS) -> DataFrame:
    """(doc_a, doc_b) undirected pair list → (doc_id, label) with label =
    min node id of the connected component. See the algorithm notes on
    dedup_cluster_connected_components; exposed separately so the kernel
    is testable on adversarial topologies (long paths) independent of the
    MinHash pair generator.

    The returned frame is checkpoint-materialized: its blocks live until
    ``lifetime.release`` of the scope it was called in, or until Spark's
    ContextCleaner collects them when no scope is open.

    Two sizing decisions matter here:
    - Both edge directions come from ONE explode of the pair list (a
      ``union`` of the pair plan with its swap would recompute the entire
      upstream candidate pipeline twice before the cache fills).
    - The iteration runs with shuffle partitions sized to the DUP GRAPH,
      not the corpus: the pair list is orders of magnitude smaller than
      its input (only near-duplicates appear), so after materializing the
      cached edge list at corpus parallelism, the loop's joins repartition
      down — at 100 TB the same two-regime split applies, just with a
      larger loop-side constant.
    """
    spark = pairs.sparkSession
    doc_a, doc_b = pairs.columns
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(doc_a).alias("u"), F.col(doc_b).alias("v")),
                    F.struct(F.col(doc_b).alias("u"), F.col(doc_a).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .cache()
    )
    n_edges = edges.count()  # materialize at corpus-scale parallelism
    loop_parts = max(2, min(32, n_edges // 50_000 + 2))
    with shuffle_partitions(spark, loop_parts):
        # Each round's labels are checkpoint-materialized; the PREVIOUS
        # round's blocks are dead the moment the new frame exists, so they
        # are unpinned eagerly instead of waiting for their scope's release
        # — at 100 TB the superseded frames are corpus-label-sized and an
        # O(rounds) pileup is real memory pressure (ADVICE r07).
        labels = checkpoint(
            edges.select(F.col("u").alias("doc_id"))
            .distinct()
            .withColumn("label", F.col("doc_id"))
        )
        # Labels only ever decrease (every update is a least()), so the
        # label sum strictly decreases each round until the fixpoint —
        # a one-aggregate convergence probe, no self-join needed.
        prev_sum = labels.agg(F.sum("label")).collect()[0][0]
        for _ in range(max_iters):
            # (a) Neighbor-min step as ONE aggregation: the node's own label
            # rides along as a union branch, so the groupBy's min IS
            # least(own, min over neighbors) — same iterate as the former
            # left-join + coalesce + least spelling (r14 A/B: row-identical
            # on the pair graph and a 400-node path), with one fewer join
            # per round.
            stepped = checkpoint(
                edges.join(labels, edges.v == labels.doc_id)
                .select(F.col("u").alias("doc_id"), "label")
                .unionByName(labels)
                .groupBy("doc_id")
                .agg(F.min("label").alias("label"))
            )
            # (b) Pointer jumping: label := label(label) where the label
            # node has its own (possibly lower) label. The jump reads the
            # MATERIALIZED stepped frame: before r14 the broadcast build of
            # lmap re-executed the whole neighbor-min subtree (join +
            # exchange + aggregate ran twice per round — visible in
            # plans/r14/dedup_cluster_cc_round_before.txt as the duplicated
            # aggregation under the outer BroadcastExchange); materializing
            # the node-sized frame once is strictly cheaper than
            # recomputing an edge-sized join at any scale.
            lmap = stepped.select(
                F.col("doc_id").alias("l_id"), F.col("label").alias("l_label")
            )
            superseded = labels
            labels = checkpoint(
                stepped.join(lmap, stepped.label == lmap.l_id, "left").select(
                    "doc_id",
                    F.least("label", F.coalesce("l_label", "label")).alias("label"),
                )
            )
            unpin(superseded)  # superseded round's blocks
            unpin(stepped)  # intra-round scratch
            new_sum = labels.agg(F.sum("label")).collect()[0][0]
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        else:
            edges.unpersist()
            unpin(labels)
            raise RuntimeError(
                f"connected components did not converge in {max_iters} rounds"
            )
    edges.unpersist()
    return labels


@register(
    "fuzzy_join_part_names",
    oracle="""
    WITH names AS (
      SELECT p_name, split_part(p_name, ' ', 2) AS blk,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy self-join: near-identical part names
    (edit distance ≤ 3) found via blocking + within-block verify — the
    canonical string-matching shape (never an all-pairs cross join).

    Scale shape: (1) collapse the corpus to DISTINCT names with counts —
    an entity-resolution join is over the vocabulary, not the rows;
    (2) block on a cheap deterministic key (here the name's noun token —
    production uses q-gram or phonetic keys) so candidate pairs are
    per-block quadratic, not global; (3) verify candidates with the exact
    ``levenshtein`` only inside blocks. Both engines implement classic
    Levenshtein identically, so distances are integer-equal.
    """
    p = load_table(spark, sf_dir, "part")
    names = (
        p.groupBy("p_name")
        .agg(F.count("*").alias("n_parts"))
        .withColumn("blk", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)))
    )
    a = names.alias("a")
    b = names.alias("b")
    j = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.p_name") < F.col("b.p_name")),
    ).filter(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 3)
    return j.select(
        F.col("a.p_name").alias("name_a"),
        F.col("b.p_name").alias("name_b"),
        F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
        .cast("bigint")
        .alias("edit_dist"),
        F.col("a.n_parts").alias("n_parts_a"),
        F.col("b.n_parts").alias("n_parts_b"),
    )


from .text import _duck_ratio as _text_duck_ratio  # noqa: E402

_DUCK_ALPHA = _text_duck_ratio("text", "a-zA-Z")


@register(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE {_duck_minhash_cte()},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    sim AS (
      SELECT p.doc_a, p.doc_b
      FROM pairs p JOIN sig sa ON p.doc_a = sa.doc_id
                   JOIN sig sb ON p.doc_b = sb.doc_id
      WHERE CAST(len([i for i in range({_N_PERM})
                      if sa.sig[i + 1] = sb.sig[i + 1]]) AS DOUBLE) / {_N_PERM}
            >= {_CC_EST_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM sim
      UNION ALL
      SELECT doc_b, doc_a FROM sim
    ),
    reach(doc_id, label) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.doc_id
    ),
    comp AS (
      SELECT doc_id, min(label) AS component_id FROM reach GROUP BY doc_id
    ),
    sized AS (
      SELECT doc_id, component_id,
             CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
               AS component_size
      FROM comp
    ),
    q AS (SELECT doc_id, {_DUCK_ALPHA} AS alpha_ratio FROM documents),
    ranked AS (
      SELECT s.component_id, s.doc_id, s.component_size, q.alpha_ratio,
             row_number() OVER (
               PARTITION BY s.component_id
               ORDER BY q.alpha_ratio DESC, s.doc_id
             ) AS rn
      FROM sized s JOIN q USING (doc_id)
    )
    SELECT component_id, doc_id AS keeper_doc_id, component_size,
           alpha_ratio AS keeper_alpha_ratio
    FROM ranked WHERE rn = 1
    """,
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection per duplicate cluster: within each
    connected component of the near-dup graph, keep the single document
    with the highest quality signal (alpha ratio; ties to min doc_id) —
    the curation step that follows clustering in a RefinedWeb-style
    pipeline (cluster, then keep the best copy, drop the rest).

    Pure composition of two green kernels: the CC cluster labels
    (``dedup_cluster_connected_components``) joined to the quality scorer
    (``text_quality_scores``) on doc_id, then one argmax window PER
    CLUSTER. The ranking key is an IEEE division of two integer counts —
    bit-identical across engines, so the per-cluster winner is stable.

    Scale shape: the join and the window both run on the DUP GRAPH's
    nodes (orders of magnitude smaller than the corpus — only clustered
    docs survive the CC kernel), partitioned by component; no stage
    touches the full corpus beyond the two upstream kernels' own scans.
    """
    from .text import text_quality_scores

    clusters = dedup_cluster_connected_components(spark, sf_dir)
    quality = text_quality_scores(spark, sf_dir).select(
        "doc_id", "alpha_ratio"
    )
    win = W.partitionBy("component_id").orderBy(
        F.col("alpha_ratio").desc(), "doc_id"
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(
            "component_id",
            F.col("doc_id").alias("keeper_doc_id"),
            "component_size",
            F.col("alpha_ratio").alias("keeper_alpha_ratio"),
        )
    )


# --- Prefix-filtered exact set-similarity self-join (AllPairs/PPJoin) ------
# The EXACT counterpart of dedup_ngram_jaccard's recall-traded candidate
# scheme, at a higher bar (trigram-set Jaccard >= 3/5 vs >= 0.3). The
# threshold is carried as the rational 3/5 so every pruning predicate and
# the final acceptance test are integer comparisons — no float threshold
# crosses an engine boundary.
_PF_TN = 3  # Jaccard threshold numerator
_PF_TD = 5  # denominator
# Fail-loud bound on a single document's distinct-shingle count: the
# verify phase carries full (uncapped — exactness) per-doc arrays, so a
# pathological multi-million-shingle document would replicate multi-MB
# rows into every candidate pair. 256k shingles ~ 2 MB/row, far above any
# length-gated corpus document and far below executor trouble.
_PF_SET_GUARD = 262_144


@register(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {DUCK_TOKS.format(col='text')} AS toks FROM documents),
    tl AS (
      SELECT DISTINCT doc_id, {duck_h60('s')} AS h
      FROM (SELECT doc_id,
                   unnest([array_to_string(toks[i + 1 : i + {_SHINGLE_K}], ' ')
                           for i in range(greatest(len(toks) - {_SHINGLE_K - 1}, 0))]) AS s
            FROM tok)
    ),
    wdf AS (
      SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS dfc FROM tl
    ),
    ordered AS (
      SELECT doc_id, h,
             row_number() OVER (PARTITION BY doc_id ORDER BY dfc, h) AS pos,
             count(*) OVER (PARTITION BY doc_id) AS n
      FROM wdf
    ),
    pref AS (
      SELECT doc_id, h, pos, n FROM ordered
      WHERE pos <= n - ({_PF_TN} * n + {_PF_TD - 1}) // {_PF_TD} + 1
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             max(least(a.n - a.pos, b.n - b.pos)) + 1 AS ub,
             max(a.n) AS n_a, max(b.n) AS n_b
      FROM pref a JOIN pref b ON a.h = b.h AND a.doc_id < b.doc_id
      WHERE {_PF_TD} * least(a.n, b.n) >= {_PF_TN} * greatest(a.n, b.n)
      GROUP BY 1, 2
    ),
    sets AS (
      SELECT doc_id, list(h ORDER BY h) AS hs,
             CASE WHEN max(n) > {_PF_SET_GUARD} OR max(n) IS NULL
                  THEN CAST(error('prefix_filter_pairs: document shingle '
                                  'set exceeds {_PF_SET_GUARD}') AS BIGINT)
                  ELSE max(n) END AS n
      FROM ordered GROUP BY 1
    ),
    ver AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS n_inter,
             sa.n AS n_a, sb.n AS n_b
      FROM (SELECT doc_a, doc_b FROM cand
            WHERE ({_PF_TD} + {_PF_TN}) * ub >= {_PF_TN} * (n_a + n_b)) c
      JOIN sets sa ON c.doc_a = sa.doc_id
      JOIN sets sb ON c.doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b, n_inter,
           CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
    FROM ver
    WHERE ({_PF_TD} + {_PF_TN}) * n_inter >= {_PF_TN} * (n_a + n_b)
    """,
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trigram-set Jaccard >= 3/5 self-join via prefix filtering
    (SSJoin, Chaudhuri et al. ICDE'06; positional filter from PPJoin,
    Xiao et al. WWW'08) — zero recall loss, unlike its sibling.

    Contrast with ``dedup_ngram_jaccard`` (the catalog's other exact-verify
    entry): that one trades recall for bounded index buckets — it drops
    shingles with df > 50 and pairs with < 3 shared rare shingles, so a
    pair whose overlap is entirely common shingles is never surfaced.
    This entry is COMPLETE at its threshold: order each document's shingle
    set by (global df, hash) — rarest first — and index only the PREFIX
    (first n - ceil(t*n) + 1 shingles). The AllPairs lemma guarantees any
    pair with Jaccard >= t shares at least one prefix shingle, so pruning
    costs no recall. Candidates are then cut twice more, still exactly:
    the length filter (min(n_a,n_b) >= t*max — J <= min/max) and PPJoin's
    positional upper bound (a shared prefix shingle at positions
    (pos_a, pos_b) caps the intersection at min(n_a-pos_a, n_b-pos_b)+1;
    keep the max bound over shared shingles — still sufficient). Measured
    on the fixture: the positional filter prunes candidates to EXACTLY the
    result set at sf0.01 (113 -> 25) and 193k -> 69k at sf0.1.

    Scale shape: the inverted index holds only the rarest ~(1-t)*n + 1
    shingles per document, so bucket sizes are skew-resistant BY
    CONSTRUCTION — the global df order puts every document's stop-shingles
    outside its prefix (the exact failure mode the sibling's df cap
    guards against, solved here without discarding anything). One
    shingle-keyed shuffle builds df; the df join is vocabulary-sized on
    the build side (broadcast / AQE-skew at scale, the text_rarity_score
    argument); one doc_id exchange serves the ordering window, the size
    count AND the verify-phase collect_list; the candidate join shuffles
    prefix rows only. Verification is a JVM array_intersect over the
    candidate pairs — no per-shingle shuffle. All thresholds are integer
    predicates: acceptance is (td+tn)*n_inter >= tn*(n_a+n_b).
    """
    d = load_table_fanned(spark, sf_dir, "documents", key="doc_id")
    return prefix_filter_pairs(
        _exploded_shingle_hashes(d, spark_h60)
        .withColumnRenamed("s", "h")
        .distinct()
    )


def prefix_filter_pairs(tl: DataFrame) -> DataFrame:
    """The AllPairs/PPJoin kernel over a DISTINCT (doc_id, h) element
    frame — factored so tests can drive it with synthetic sets (the KLL
    convention). Returns (doc_a, doc_b, n_inter, jaccard) for every pair
    with set-Jaccard >= _PF_TN/_PF_TD, exactly.

    The global document frequency is a COUNT window over h, not a
    groupBy-then-join — one h exchange instead of an aggregate exchange
    plus a join back (and no second pass over the element frame: measured
    on the join spelling, Catalyst rebuilt the distinct under both
    branches). Pipeline: one (doc_id, h) distinct, one h window, one
    doc_id exchange serving the ordering window, the size count and the
    verify-phase collect_list."""
    w = W.partitionBy("doc_id")
    ordered = (
        tl.withColumn("dfc", F.count("*").over(W.partitionBy("h")))
        .withColumn("pos", F.row_number().over(w.orderBy("dfc", "h")))
        .withColumn("n", F.count("*").over(w))
        .cache()
    )
    pref = ordered.filter(
        F.col("pos")
        <= F.col("n")
        - F.expr(f"({_PF_TN} * n + {_PF_TD - 1}) DIV {_PF_TD}")
        + F.lit(1)
    )
    pa = pref.select(
        F.col("doc_id").alias("doc_a"), "h",
        F.col("pos").alias("pos_a"), F.col("n").alias("n_a"),
    )
    pb = pref.select(
        F.col("doc_id").alias("doc_b"), "h",
        F.col("pos").alias("pos_b"), F.col("n").alias("n_b"),
    )
    cand = (
        pa.join(pb, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            _PF_TD * F.least("n_a", "n_b")
            >= _PF_TN * F.greatest("n_a", "n_b")
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            (
                F.max(
                    F.least(
                        F.col("n_a") - F.col("pos_a"),
                        F.col("n_b") - F.col("pos_b"),
                    )
                )
                + 1
            ).alias("ub"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
        .filter(
            (_PF_TD + _PF_TN) * F.col("ub")
            >= _PF_TN * (F.col("n_a") + F.col("n_b"))
        )
        .select("doc_a", "doc_b")
    )
    # The verify-phase set arrays are deliberately UNCAPPED — exactness is
    # the entry's contract, so the sibling's _SHINGLE_CAP bottom-k is not
    # available here. The row size is bounded by document length (shingles
    # <= tokens), which production corpora bound upstream (the curation
    # pipeline's length gates); the guard below turns the residual
    # pathological-document case (a single doc whose set would replicate
    # multi-MB arrays into every candidate row) from a silent executor OOM
    # into a loud error naming the bound, the 1e9 pack-guard discipline.
    sets = ordered.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h")).alias("hs"),
        F.coalesce(
            F.assert_true(
                F.max("n") <= _PF_SET_GUARD,
                F.lit(
                    "prefix_filter_pairs: document shingle set exceeds "
                    f"{_PF_SET_GUARD} — cap document length upstream"
                ),
            ).cast("bigint"),
            F.max("n"),
        ).alias("n"),
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"), F.col("n").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"), F.col("n").alias("n_b"),
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint"),
        )
        .filter(
            (_PF_TD + _PF_TN) * F.col("n_inter")
            >= _PF_TN * (F.col("n_a") + F.col("n_b"))
        )
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "n_inter",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard"),
    )
