"""Training-data pipeline operators: packing, sharding, splits, decontam.

The ops a large-scale LLM pre-training pipeline runs AFTER cleaning/dedup
(functions/text.py, functions/dedup.py): pack documents into fixed token
budgets, assign a deterministic global shuffle order, stratify train/val
splits, and check benchmark contamination. All pure built-in expressions
(JVM codegen, no Python on the hot path) over the ``documents`` fixture,
each with a bit-identical DuckDB oracle.

Scale stance shared by every op here: nothing uses a GLOBAL ordering or a
single-partition window. Packing and shuffle order are partitioned by a
deterministic bucket/shard key first, so each partition's window runs
independently — the standard way training pipelines shard work (a global
sort of 100 TB for packing order would be the bottleneck; per-shard order
is what data loaders actually consume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import register
from ..lifetime import checkpoint
from ..sources import load_table, load_table_fanned
from .hashes import (
    DUCK_TOKS,
    SPARK_TOKS,
    duck_h32,
    duck_h60,
    duck_shingles,
    spark_h32,
    spark_h60,
)

# Packing: greedy in-order fill against a fixed token budget, within each
# of _PACK_BUCKETS independent buckets. A doc lands in the bin its
# PRECEDING cumulative token count falls into (docs may straddle a
# boundary — the streaming-pack approximation every sequence packer uses
# when it refuses to reorder documents).
_PACK_BUDGET = 512
_PACK_BUCKETS = 8

_SHUFFLE_SHARDS = 16
_VAL_PCT = 10  # deterministic hash-split percentage

# Contamination: word 5-grams, benchmark = every 97th doc_id (a stand-in
# for a fixed held-out eval suite).
_CONTAM_K = 5
_BENCH_MOD = 97


@register(
    "pack_token_budget_bins",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, doc_id % {_PACK_BUCKETS} AS bucket,
             len({DUCK_TOKS.format(col='text')}) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT bucket, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM tok
    )
    SELECT bucket,
           CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           CAST(sum(n_tokens) AS DOUBLE) / {_PACK_BUDGET} AS fill_frac
    FROM packed
    GROUP BY bucket, CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT)
    """,
)
def pack_token_budget_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedy in-order fill of {budget}-token bins.

    Scale shape: the running-sum window partitions by a deterministic
    bucket key (doc_id mod B; a production pipeline uses a hash of the
    shard path), so packing parallelizes across buckets instead of
    serializing on one global cumulative sum — each task packs its bucket
    independently, which is exactly how multi-worker data loaders shard
    anyway. One shuffle on the bucket key, then the per-bin GROUP BY
    reuses the same partitioning (no second exchange).
    """
    d = load_table_fanned(spark, sf_dir, "documents", key="doc_id")
    toks = SPARK_TOKS.format(col="text")
    per_doc = d.selectExpr(
        "doc_id",
        f"doc_id % {_PACK_BUCKETS} AS bucket",
        f"size({toks}) AS n_tokens",
    )
    w = W.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    packed = per_doc.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "bin_id", F.expr(f"(cum - n_tokens) div {_PACK_BUDGET}")
    )
    return packed.groupBy("bucket", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        (F.sum("n_tokens").cast("double") / _PACK_BUDGET).alias("fill_frac"),
    )


@register(
    "shuffle_shard_order",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             {duck_h60("('shuffle:' || CAST(doc_id AS VARCHAR))")} AS hv
      FROM documents
    )
    SELECT doc_id, hv % {_SHUFFLE_SHARDS} AS shard,
           CAST(row_number() OVER (PARTITION BY hv % {_SHUFFLE_SHARDS}
                                   ORDER BY hv, doc_id) AS BIGINT)
             AS pos_in_shard
    FROM h
    """,
)
def shuffle_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: hash-assign each
    doc to a shard, order within the shard by the same hash.

    This is the distributed form of "shuffle the corpus once before
    training": a seeded content-independent hash gives a reproducible
    pseudo-random permutation, expressed as (shard, pos_in_shard) so no
    global single-partition ordering ever exists — each shard's
    row_number window runs in parallel after one shuffle on the shard
    key, and a data loader consumes shards round-robin.
    """
    d = load_table(spark, sf_dir, "documents")
    hv = spark_h60("concat('shuffle:', cast(doc_id as string))")
    hd = d.selectExpr("doc_id", f"{hv} AS hv")
    w = W.partitionBy(F.expr(f"hv % {_SHUFFLE_SHARDS}")).orderBy("hv", "doc_id")
    return hd.select(
        "doc_id",
        F.expr(f"hv % {_SHUFFLE_SHARDS}").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
    )


@register(
    "sample_stratified_split",
    oracle=f"""
    WITH tagged AS (
      SELECT lang,
             CASE WHEN {duck_h32("('split:' || CAST(doc_id AS VARCHAR))")}
                       % 100 < {_VAL_PCT}
                  THEN 'val' ELSE 'train' END AS split
      FROM documents
    ),
    counts AS (
      SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
      FROM tagged GROUP BY lang, split
    )
    SELECT lang, split, n_docs,
           CAST(n_docs AS DOUBLE)
             / sum(n_docs) OVER (PARTITION BY lang) AS frac_of_lang
    FROM counts
    """,
)
def sample_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val split: a seeded hash of doc_id
    sends ~10% of each language stratum to 'val', the rest to 'train'.

    Hash-based splits are the scale-correct recipe: reproducible across
    runs and engines, no sampling state, no shuffling — the split is a
    pure projection, and the per-stratum report is one aggregation. The
    window runs over (lang) groups of the AGGREGATED frame (≤ strata
    rows), never the raw corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    hv = spark_h32("concat('split:', cast(doc_id as string))")
    tagged = d.selectExpr(
        "lang",
        f"CASE WHEN {hv} % 100 < {_VAL_PCT} THEN 'val' ELSE 'train' END AS split",
    )
    counts = tagged.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs")
    )
    w = W.partitionBy("lang")
    return counts.select(
        "lang",
        "split",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "frac_of_lang"
        ),
    )


@register(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {DUCK_TOKS.format(col='text')} AS toks FROM documents
    ),
    shingled AS (
      SELECT doc_id, {duck_shingles('toks', _CONTAM_K)} AS sh FROM tok
    ),
    grams AS (
      SELECT doc_id, unnest([{duck_h60('s')} for s in sh]) AS s
      FROM shingled WHERE len(sh) > 0
    ),
    bench AS (SELECT DISTINCT s FROM grams WHERE doc_id % {_BENCH_MOD} = 0),
    train AS (SELECT doc_id, s FROM grams WHERE doc_id % {_BENCH_MOD} <> 0),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
              FROM train GROUP BY doc_id),
    hits AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
      FROM train t JOIN bench b ON t.s = b.s
      GROUP BY t.doc_id
    )
    SELECT s.doc_id, s.n_grams, h.n_contaminated,
           CAST(h.n_contaminated AS DOUBLE) / s.n_grams AS contamination_frac
    FROM sizes s JOIN hits h ON s.doc_id = h.doc_id
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination check: fraction of each training doc's
    distinct word 5-grams that appear in the held-out benchmark set
    (stand-in: every 97th doc). Emits only contaminated docs.

    Scale shape: grams travel as 60-bit hashes; the benchmark side is a
    fixed eval suite in production (MBs) — small enough that AQE picks a
    broadcast join, so the corpus never shuffles on the gram key. No hint
    is pinned here because THIS fixture's bench slice grows with sf
    (broadcast hints on sf-scaling sides were removed in r01 — see
    tests/test_plans.py policy); at 100 TB you would `broadcast()` the
    real, size-bounded benchmark gram set explicitly.
    """
    d = load_table_fanned(spark, sf_dir, "documents", key="doc_id")
    toks = SPARK_TOKS.format(col="text")
    idx = (
        f"explode(CASE WHEN size(toks) >= {_CONTAM_K} "
        f"THEN sequence(0, size(toks) - {_CONTAM_K}) ELSE array() END)"
    )
    h = spark_h60(f"concat_ws(' ', slice(toks, i + 1, {_CONTAM_K}))")
    grams = (
        d.selectExpr("doc_id", f"{toks} AS toks")
        .selectExpr("doc_id", "toks", f"{idx} AS i")
        .selectExpr("doc_id", f"{h} AS s")
        .distinct()
    )
    bench = grams.filter(F.expr(f"doc_id % {_BENCH_MOD} = 0")).select("s").distinct()
    train = grams.filter(F.expr(f"doc_id % {_BENCH_MOD} <> 0"))
    sizes = train.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = train.join(bench, "s").groupBy("doc_id").agg(
        F.count("*").alias("n_contaminated")
    )
    return sizes.join(hits, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        (F.col("n_contaminated").cast("double") / F.col("n_grams")).alias(
            "contamination_frac"
        ),
    )


# Span-level dedup signal: word 8-gram instances (stride 1). A span is
# "duplicated" when it appears in ≥ 2 distinct documents.
_SPAN_K = 8


@register(
    "dedup_span_fraction",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {DUCK_TOKS.format(col='text')} AS toks FROM documents
    ),
    spans AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(toks) - {_SPAN_K - 1}, 0)),
               i -> {duck_h60(f"array_to_string(list_slice(toks, i, i + {_SPAN_K - 1}), ' ')")}
             )) AS s
      FROM tok
    ),
    span_docs AS (SELECT DISTINCT s, doc_id FROM spans),
    hot AS (
      SELECT s FROM span_docs GROUP BY s HAVING count(*) >= 2
    )
    SELECT sp.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(h.s) AS BIGINT) AS n_dup_spans,
           CAST(count(h.s) AS DOUBLE) / count(*) AS dup_span_frac
    FROM spans sp LEFT JOIN hot h ON sp.s = h.s
    GROUP BY sp.doc_id
    """,
)
def dedup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction: the share of a doc's word
    8-gram instances that also occur in at least one OTHER document — the
    span-level (sub-document) dedup signal pipelines use to drop
    boilerplate-heavy docs that exact/minhash whole-doc dedup misses.

    Scale shape: spans travel as 60-bit hashes (16 bytes/row, never the
    text); the hot-span set is built from DISTINCT (span, doc) pairs so a
    span repeated inside one doc cannot promote itself to "duplicated";
    both the hot-set GROUP BY and the final per-doc rollup reuse the one
    exploded-span shuffle. Docs shorter than {_SPAN_K} tokens contribute no
    spans and drop out in both engines.
    """
    d = load_table_fanned(spark, sf_dir, "documents", key="doc_id")
    toks = SPARK_TOKS.format(col="text")
    idx = (
        f"explode(CASE WHEN size(toks) >= {_SPAN_K} "
        f"THEN sequence(0, size(toks) - {_SPAN_K}) ELSE array() END)"
    )
    h = spark_h60(f"concat_ws(' ', slice(toks, i + 1, {_SPAN_K}))")
    spans = (
        d.selectExpr("doc_id", f"{toks} AS toks")
        .selectExpr("doc_id", "toks", f"{idx} AS i")
        .selectExpr("doc_id", f"{h} AS s")
    )
    hot = (
        spans.select("s", "doc_id")
        .distinct()
        .groupBy("s")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("s", F.lit(1).alias("is_hot"))
    )
    return (
        spans.join(hot, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count("is_hot").alias("n_dup_spans"),
            (F.count("is_hot").cast("double") / F.count("*")).alias(
                "dup_span_frac"
            ),
        )
    )


# Source reputation: thresholds picked to split the fixture's sources both
# ways; the shape (per-source rollup + corpus-wide dup detection) is what
# matters, not the cutoffs.
_SRC_MAX_DUP_RATE = 0.10
_SRC_MIN_AVG_CHARS = 150.0


@register(
    "source_reputation_filter",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source, n_chars, md5(text) AS fp FROM documents
    ),
    dup AS (
      SELECT fp FROM fp GROUP BY fp HAVING count(*) >= 2
    ),
    flagged AS (
      SELECT f.source, f.n_chars,
             CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END AS is_dup
      FROM fp f LEFT JOIN dup d ON f.fp = d.fp
    ),
    stats AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM flagged GROUP BY source
    )
    SELECT source, n_docs, n_dup_docs,
           CAST(n_dup_docs AS DOUBLE) / n_docs AS dup_rate,
           CAST(sum_chars AS DOUBLE) / n_docs AS avg_chars,
           CAST(n_dup_docs AS DOUBLE) / n_docs <= {_SRC_MAX_DUP_RATE}
             AND CAST(sum_chars AS DOUBLE) / n_docs >= {_SRC_MIN_AVG_CHARS}
             AS kept
    FROM stats
    """,
)
def source_reputation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level curation: per-source doc count, exact-duplicate rate
    (md5 text fingerprints repeated corpus-wide), and average length, with
    a keep/drop verdict — the "domain reputation" pass pipelines run
    before per-document filters, because a bad source is cheaper to drop
    wholesale than doc-by-doc.

    Scale shape: duplicate detection groups 16-byte digests (never text);
    the per-source rollup is a second small aggregation. Every derived
    metric is a single division of exact BIGINT sums, so the doubles are
    bit-identical across engines (driver hash-compare is exact on floats).
    """
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", "source", "n_chars", F.md5("text").alias("fp"))
    dup = (
        fp.groupBy("fp")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("fp", F.lit(1).alias("dup_marker"))
    )
    flagged = fp.join(dup, "fp", "left").select(
        "source",
        "n_chars",
        F.when(F.col("dup_marker").isNotNull(), 1).otherwise(0).alias("is_dup"),
    )
    stats = flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").cast("bigint").alias("n_dup_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    dup_rate = F.col("n_dup_docs").cast("double") / F.col("n_docs")
    avg_chars = F.col("sum_chars").cast("double") / F.col("n_docs")
    return stats.select(
        "source",
        "n_docs",
        "n_dup_docs",
        dup_rate.alias("dup_rate"),
        avg_chars.alias("avg_chars"),
        ((dup_rate <= _SRC_MAX_DUP_RATE) & (avg_chars >= _SRC_MIN_AVG_CHARS)).alias(
            "kept"
        ),
    )


# --- URL canonicalization dedup ---------------------------------------------
#
# Crawl pipelines dedupe by CANONICAL URL before ever touching content:
# scheme/host case, tracking params (utm_*, ref), fragments, trailing
# slashes and query-param order are all presentation noise. The fixture has
# no URL column, so raw URLs are SYNTHESIZED deterministically from doc
# fields (the same stance as the multimodal BMP/WAV payloads: the
# normalization logic is the operator; the generator just feeds it known
# noise): each doc emits a URL whose case, tracking params, param order,
# fragment and trailing slash vary by doc_id — every variant of the same
# (source, doc_id mod group) must collapse to ONE canonical URL.

# Canonical identity of a doc's page: (source, doc_id % 50, lang). The
# CLEAN variant is already canonical; the NOISY variant wraps the same
# identity in case/tracking/order/fragment/slash noise — so every page
# contributes 2 raw URLs that MUST collapse to 1 canonical.
_URL_CLEAN_SPARK = (
    "concat('https://', source, '.example.com/docs/',"
    " CAST(doc_id % 50 AS STRING), '?id=', CAST(doc_id % 50 AS STRING),"
    " '&lang=', lang)"
)
_URL_NOISY_SPARK = (
    "concat("
    "  CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END,"
    "  CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END,"
    "  '.example.com/docs/', CAST(doc_id % 50 AS STRING),"
    "  CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,"
    "  CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&lang=' ELSE '?lang=' END,"
    "  lang,"
    "  CASE WHEN doc_id % 2 = 0 THEN '&id=' ELSE '&ref=rss&id=' END,"
    "  CAST(doc_id % 50 AS STRING),"
    "  CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END"
    ")"
)
_URL_CLEAN_DUCK = (
    "('https://' || source || '.example.com/docs/' ||"
    " CAST(doc_id % 50 AS VARCHAR) || '?id=' || CAST(doc_id % 50 AS VARCHAR) ||"
    " '&lang=' || lang)"
)
_URL_NOISY_DUCK = (
    "("
    "  CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END ||"
    "  CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END ||"
    "  '.example.com/docs/' || CAST(doc_id % 50 AS VARCHAR) ||"
    "  CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||"
    "  CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&lang=' ELSE '?lang=' END ||"
    "  lang ||"
    "  CASE WHEN doc_id % 2 = 0 THEN '&id=' ELSE '&ref=rss&id=' END ||"
    "  CAST(doc_id % 50 AS VARCHAR) ||"
    "  CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END"
    ")"
)



def _canon_spark(u: str) -> str:
    """Canonicalize a URL column (Spark SQL): drop fragment, lowercase
    scheme+host, strip trailing slash on the path, remove utm_*/ref
    tracking params, sort surviving params. Regexes stay in the Java∩RE2
    dialect (same rule as text_pii_scrub)."""
    nofrag = f"regexp_replace({u}, '#.*$', '')"
    lowered = (
        f"concat(lower(regexp_extract({nofrag}, '(?i)^(https?://[^/?]+)', 1)),"
        f" regexp_replace({nofrag}, '(?i)^https?://[^/?]+', ''))"
    )
    path = f"regexp_replace(regexp_extract({lowered}, '^([^?]*)', 1), '/+$', '')"
    query = f"regexp_extract({lowered}, '\\\\?(.*)$', 1)"
    kept = (
        f"array_sort(filter(split({query}, '&'),"
        f" p -> p != '' AND p NOT LIKE 'utm_%' AND p NOT LIKE 'ref=%'))"
    )
    return (
        f"CASE WHEN {query} = '' THEN {path} "
        f"WHEN size({kept}) = 0 THEN {path} "
        f"ELSE concat({path}, '?', concat_ws('&', {kept})) END"
    )


def _canon_duck(u: str) -> str:
    """The same canonicalization in DuckDB SQL."""
    nofrag = f"regexp_replace({u}, '#.*$', '')"
    lowered = (
        f"(lower(regexp_extract({nofrag}, '(?i)^(https?://[^/?]+)', 1)) ||"
        f" regexp_replace({nofrag}, '(?i)^https?://[^/?]+', ''))"
    )
    path = f"regexp_replace(regexp_extract({lowered}, '^([^?]*)', 1), '/+$', '')"
    query = f"regexp_extract({lowered}, '\\?(.*)$', 1)"
    kept = (
        f"list_sort(list_filter(string_split({query}, '&'),"
        f" p -> p != '' AND p NOT LIKE 'utm_%' AND p NOT LIKE 'ref=%'))"
    )
    return (
        f"CASE WHEN {query} = '' THEN {path} "
        f"WHEN len({kept}) = 0 THEN {path} "
        f"ELSE {path} || '?' || array_to_string({kept}, '&') END"
    )


@register(
    "url_normalize_dedup",
    oracle=f"""
    WITH u AS (
      SELECT source, unnest([{_URL_CLEAN_DUCK}, {_URL_NOISY_DUCK}]) AS raw_url
      FROM documents
    ),
    c AS (SELECT source, raw_url, {_canon_duck('raw_url')} AS canon FROM u)
    SELECT source,
           CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw,
           CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical
    FROM c GROUP BY source
    """,
)
def url_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup: per source, how many raw URL variants
    collapse to how many canonical URLs once fragments, tracking params,
    host case, param order and trailing slashes are normalized away — the
    first dedup pass of every crawl pipeline, before any content hashing.

    All JVM regex/array expressions in one projection; the only shuffle is
    the per-source distinct-count aggregation. The canonicalizer itself is
    the tested artifact (the raw URLs are a deterministic synthetic feed —
    see module comment).
    """
    d = load_table(spark, sf_dir, "documents")
    u = d.selectExpr(
        "source",
        f"explode(array({_URL_CLEAN_SPARK}, {_URL_NOISY_SPARK})) AS raw_url",
    )
    c = u.selectExpr("source", "raw_url", f"{_canon_spark('raw_url')} AS canon")
    return c.groupBy("source").agg(
        F.countDistinct("raw_url").alias("n_raw"),
        F.countDistinct("canon").alias("n_canonical"),
    )


# --- end-to-end batch curation report ---------------------------------------

_PIPE_MIN_WORDS = 20  # matches the streaming curation gate


@register(
    "curation_pipeline_report",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, text, lang, source,
             {_URL_CLEAN_DUCK} AS canon,
             len({DUCK_TOKS.format(col='text')}) AS n_words
      FROM documents
    ),
    url_d AS (  -- one representative (lowest doc_id) per canonical URL
      SELECT arg_min(doc_id, doc_id) AS doc_id,
             arg_min(text, doc_id) AS text,
             arg_min(n_words, doc_id) AS n_words
      FROM raw GROUP BY canon
    ),
    exact_d AS (  -- then one per exact content digest
      SELECT arg_min(doc_id, doc_id) AS doc_id,
             arg_min(n_words, doc_id) AS n_words
      FROM url_d GROUP BY md5(text)
    ),
    quality AS (SELECT * FROM exact_d WHERE n_words >= {_PIPE_MIN_WORDS})
    SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens FROM raw
    UNION ALL
    SELECT 'url_dedup', CAST(count(*) AS BIGINT),
           CAST(sum(n_words) AS BIGINT) FROM url_d
    UNION ALL
    SELECT 'exact_dedup', CAST(count(*) AS BIGINT),
           CAST(sum(n_words) AS BIGINT) FROM exact_d
    UNION ALL
    SELECT 'quality', CAST(count(*) AS BIGINT),
           CAST(sum(n_words) AS BIGINT) FROM quality
    """,
)
def curation_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end BATCH curation pipeline with a per-stage survivor report:
    raw corpus → canonical-URL dedup (lowest doc_id represents each page)
    → exact content dedup → quality gate, emitting (stage, n_docs,
    n_tokens) for each stage — the attrition funnel every training-data
    pipeline publishes.

    Composition stance (mirrors the streaming twin): each stage is a
    keep-first argmin aggregation or a stateless filter, so the whole
    report is three shuffles on bounded keys (canonical URL, digest) and
    one scan of the corpus — no joins back to the raw table (min_by
    carries the representative's columns through each stage).
    """
    toks = SPARK_TOKS.format(col="text")
    raw = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "text",
        f"{_URL_CLEAN_SPARK} AS canon",
        f"size({toks}) AS n_words",
    )
    url_d = raw.groupBy("canon").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("text", "doc_id").alias("text"),
        F.min_by("n_words", "doc_id").alias("n_words"),
    )
    exact_d = url_d.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("n_words", "doc_id").alias("n_words"),
    )
    quality = exact_d.where(F.col("n_words") >= _PIPE_MIN_WORDS)

    def stage(df, name):
        return df.agg(
            F.lit(name).alias("stage"),
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_tokens"),
        )

    return (
        stage(raw, "raw")
        .unionByName(stage(url_d, "url_dedup"))
        .unionByName(stage(exact_d, "exact_dedup"))
        .unionByName(stage(quality, "quality"))
    )


# --- per-source distribution-shift monitor ----------------------------------

_CHI2_VOCAB_K = 24


@register(
    "source_divergence_chi2",
    # chi-square over the top-K corpus vocabulary: for each source, K cells
    # o_i (source count, zeros included) vs e_i = cc_i * ns / Nv restricted
    # to vocab mass. Every term is (o*Nv - cc*ns)^2 / (cc*ns*Nv) computed
    # ENTIRELY in double — each int64 factor is cast BEFORE any multiply
    # (DuckDB would promote the products to HUGEINT and survive where
    # Spark's int64 silently wraps, so integer products are not
    # cross-engine-safe past ~1e18) — with the same association order in
    # both engines, so every IEEE op is identical; then an order-free
    # DECIMAL(38,12) sum. Vocab ties break on token text, so the K-set is
    # engine-identical.
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({DUCK_TOKS.format(col='text')}) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token, count(*) AS cc FROM toks GROUP BY token
      ORDER BY count(*) DESC, token LIMIT {_CHI2_VOCAB_K}
    ),
    nv AS (SELECT sum(cc) AS Nv FROM vocab),
    src_v AS (  -- per-source counts within vocab, zero cells included
      SELECT s.source, v.token, v.cc,
             coalesce(c.o, 0) AS o
      FROM (SELECT DISTINCT source FROM toks) s
      CROSS JOIN vocab v
      LEFT JOIN (SELECT source, token, count(*) AS o FROM toks
                 GROUP BY source, token) c
        ON c.source = s.source AND c.token = v.token
    ),
    ns AS (SELECT source, sum(o) AS ns FROM src_v GROUP BY source)
    SELECT sv.source,
           CAST(ns.ns AS BIGINT) AS n_vocab_tokens,
           CAST(sum(CAST(
             (CAST(sv.o AS DOUBLE) * CAST(nv.Nv AS DOUBLE)
              - CAST(sv.cc AS DOUBLE) * CAST(ns.ns AS DOUBLE)) *
             (CAST(sv.o AS DOUBLE) * CAST(nv.Nv AS DOUBLE)
              - CAST(sv.cc AS DOUBLE) * CAST(ns.ns AS DOUBLE))
             / (CAST(sv.cc AS DOUBLE) * CAST(ns.ns AS DOUBLE)
                * CAST(nv.Nv AS DOUBLE))
           AS DECIMAL(38,12))) AS DOUBLE) AS chi2
    FROM src_v sv JOIN ns ON ns.source = sv.source CROSS JOIN nv
    GROUP BY sv.source, ns.ns
    """,
)
def source_divergence_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift monitor: per-source chi-square divergence of the
    token distribution against the corpus, over the top-{K} vocabulary —
    the standard drift alarm a crawl pipeline runs per ingest source.

    Numeric discipline: every count cast to double BEFORE any multiply
    (int64 products wrap past ~1e18 in Spark while DuckDB promotes to
    HUGEINT), identical association order per cell in both engines, one
    IEEE division per cell, DECIMAL-exact summation — bit-identical
    cross-engine despite being a float statistic (a naive float sum is
    partial-order-dependent and never hash-matches). Scale shape: the
    grid is |sources| × K rows (linear), the vocab is a bounded top-K
    (swap in the Misra-Gries candidates at 100 TB), and every join key is
    bounded.

    Single-pass restructure (r15, guide §1.2/§2.4 — A/B'd row-identical in
    r14, landed this round): everything derives from ONE token explode +
    ONE (source, token) aggregation, materialized per query execution
    (``lifetime.checkpoint``, the triangle_count discipline). The corpus
    vocabulary is the per-source counts re-aggregated by token (sum of
    per-source counts == corpus count), and the source list is the
    aggregate's own key set. The materialization is required for the
    single pass: without it Catalyst's aggregate pruning rewrites the
    vocab / distinct-source references into fresh aggregations over the
    scan (the r15 before-plan executes 3 ``Scan parquet`` + 3 ``Generate``
    even with AQE exchange reuse); with it the after-plan reads the
    checkpointed counts for every reference — the documents table is
    scanned and tokenized ONCE. A document whose text yields zero tokens
    contributes no rows either way, so the derived source set is
    identical to the old post-explode DISTINCT. The checkpointed frame is
    |sources| × |distinct tokens per source| COUNT rows — the decision
    data, never the corpus (guide §8's lightweight-proxy rule).
    """
    per_src = checkpoint(
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.expr(SPARK_TOKS.format(col="text"))).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count("*").alias("o"))
    )
    vocab = (
        per_src.groupBy("token")
        .agg(F.sum("o").alias("cc"))
        .orderBy(F.col("cc").desc(), "token")
        .limit(_CHI2_VOCAB_K)
    )
    nv = vocab.agg(F.sum("cc").alias("Nv"))
    grid = (
        per_src.select("source")
        .distinct()
        .crossJoin(F.broadcast(vocab))
        .join(per_src, ["source", "token"], "left")
        .select(
            "source", "token", "cc", F.coalesce(F.col("o"), F.lit(0)).alias("o")
        )
    )
    ns = grid.groupBy("source").agg(F.sum("o").alias("ns"))
    cells = grid.join(ns, "source").crossJoin(F.broadcast(nv))
    # All arithmetic in DOUBLE from the first multiply (ADVICE r04, widened
    # after review): casting only the difference or only the final product
    # still leaves o*Nv / cc*ns / cc*ns*Nv in int64, which silently wraps
    # past ~1e18 in Spark while DuckDB promotes to HUGEINT — the engines
    # would diverge exactly at the scale the fix targets. Same association
    # order as the oracle, so every IEEE op is identical cross-engine;
    # trades the last ulp for range.
    o_d, nv_d = F.col("o").cast("double"), F.col("Nv").cast("double")
    cc_d, ns_d = F.col("cc").cast("double"), F.col("ns").cast("double")
    num = o_d * nv_d - cc_d * ns_d
    term = (num * num) / (cc_d * ns_d * nv_d)
    return (
        cells.groupBy("source", "ns")
        .agg(F.sum(term.cast("decimal(38,12)")).cast("double").alias("chi2"))
        .select(
            "source", F.col("ns").cast("long").alias("n_vocab_tokens"), "chi2"
        )
    )


# Mixture resampling: target corpus proportions by language, as integer
# ratios (en:fr:de:es:zh = 4:2:2:1:1). Integer arithmetic end-to-end so
# the feasible-size and per-stratum keep counts are bit-identical across
# engines (no float weight ever multiplies a count).
_MIX_RATIOS = {"en": 4, "fr": 2, "de": 2, "es": 1, "zh": 1}
_MIX_R = sum(_MIX_RATIOS.values())
_MIX_VALUES_DUCK = ",".join(f"('{k}',{v})" for k, v in _MIX_RATIOS.items())


@register(
    "sample_mixture_weights",
    oracle=f"""
    WITH w(lang, w) AS (VALUES {_MIX_VALUES_DUCK}),
    c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ),
    f AS (SELECT c.lang, n, w FROM c JOIN w USING (lang)),
    tot AS (SELECT min(n * {_MIX_R} // w) AS total FROM f),
    k AS (
      SELECT lang, (w * (SELECT total FROM tot)) // {_MIX_R} AS keep FROM f
    ),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {duck_h32("'mix:' || CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang FROM ranked JOIN k USING (lang) WHERE rn <= keep
    """,
)
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-weight corpus mixture resampling: downsample each language
    stratum so the output matches a target mixture (en:fr:de:es:zh =
    4:2:2:1:1) as closely as floor rounding allows, WITHOUT upsampling any
    stratum — the data-mixture step every pre-training corpus recipe runs
    (cf. the published LLaMA/Pile source weights). Complements
    ``sample_balanced_by_lang`` (the equal-share special case).

    Feasible output size N = min over strata of floor(n_s * R / r_s): the
    largest total for which every stratum can supply floor(r_s * N / R)
    docs from what it has. All arithmetic is integer (ratios, not float
    weights), so N and the per-stratum keep counts are bit-identical
    across engines. Selection within a stratum is by smallest seeded hash
    (deterministic, reproducible, partition-order-independent).

    Scale shape: one tiny count aggregate joined to a literal weights
    relation (broadcast both ways), then one per-stratum window rank —
    the rank's shuffle is the only movement of the corpus, and at 100 TB
    the rank swaps for an approximate per-stratum quantile threshold on
    the same hash column (identical semantics, no per-stratum sort).
    """
    d = load_table(spark, sf_dir, "documents")
    wdf = spark.createDataFrame(
        list(_MIX_RATIOS.items()), "lang string, w int"
    )
    feas = (
        d.groupBy("lang").agg(F.count("*").alias("n")).join(wdf, "lang")
    )
    # The feasible total is a min over the |strata|-row aggregate; taking it
    # as an unpartitioned window over that tiny frame (instead of a separate
    # agg + cross join) keeps ONE counts subtree, so the corpus is scanned
    # once for ranks and once for counts — not three times.
    keep = feas.selectExpr(
        "lang",
        f"(w * min(n * {_MIX_R} div w) OVER ()) div {_MIX_R} AS keep",
    )
    h = spark_h32("concat('mix:', cast(doc_id as string))")
    win = W.partitionBy("lang").orderBy(F.expr(h), "doc_id")
    ranked = d.select("doc_id", "lang").withColumn(
        "rn", F.row_number().over(win)
    )
    return (
        ranked.join(F.broadcast(keep), "lang")
        .filter(F.col("rn") <= F.col("keep"))
        .select("doc_id", "lang")
    )


# Length-bucketed batching accounting: fixed-width token-count buckets
# (floor(n_tokens / width)), NOT ntile — quantile buckets would need a
# global sort of the corpus; fixed widths are a pure projection, so the
# one groupBy shuffle (on a small int key) is the only data movement.
_BATCH_BUCKET_WIDTH = 16


@register(
    "batching_padding_waste",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             CAST(len({DUCK_TOKS.format(col='text')}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT n_tokens, n_tokens // {_BATCH_BUCKET_WIDTH} AS bucket FROM tok
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           max(n_tokens) AS max_tokens,
           CAST(max(n_tokens) * count(*) - sum(n_tokens) AS BIGINT)
             AS total_pad_waste
    FROM b GROUP BY bucket
    """,
)
def batching_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste accounting for length-bucketed batching: group docs
    into fixed-width token-count buckets and report, per bucket, how many
    pad tokens a batch padded to the bucket max would burn
    (max_tokens x n_docs - sum tokens) — the metric that justifies
    length-bucketed batching in a training data loader (random batching
    pads every sequence to the global max; bucketing bounds waste by the
    bucket width).

    All-integer arithmetic (token counts), bit-identical across engines.
    Scale shape: tokenize + bucket is a linear projection; the single
    groupBy on a small integer key is the only shuffle, map-side
    combinable down to one row per bucket per partition.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = SPARK_TOKS.format(col="text")
    b = d.selectExpr(
        f"cast(size({toks}) as bigint) AS n_tokens"
    ).selectExpr("n_tokens", f"n_tokens div {_BATCH_BUCKET_WIDTH} AS bucket")
    return b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.max("n_tokens").alias("max_tokens"),
        (F.max("n_tokens") * F.count("*") - F.sum("n_tokens")).alias(
            "total_pad_waste"
        ),
    )


@register(
    "source_token_concentration",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({DUCK_TOKS.format(col='text')})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS token_share,
           CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source
                                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / sum(n_tokens) OVER () AS cum_share
    FROM per_src
    """,
)
def source_token_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition concentration report: per-source token counts,
    each source's share of all tokens, and the cumulative share when
    sources are ranked largest-first — the number that answers "what
    fraction of the corpus do the top-k sources contribute", which drives
    mixture-rebalancing decisions upstream of ``sample_mixture_weights``.

    Scale shape: one map-side-combinable groupBy over the corpus (the
    only corpus-sized stage); both windows — the global total and the
    running sum — run over the |sources|-row AGGREGATE, so the
    single-partition unbounded frames touch ~dozens of rows, never the
    corpus. Shares are IEEE divisions of exact integer token counts,
    bit-identical across engines.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = SPARK_TOKS.format(col="text")
    per_src = d.selectExpr("source", f"size({toks}) AS nt").groupBy(
        "source"
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    w_all = W.partitionBy()
    w_run = W.partitionBy().orderBy(
        F.col("n_tokens").desc(), "source"
    ).rowsBetween(W.unboundedPreceding, 0)
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        (
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w_all)
        ).alias("token_share"),
        (
            F.sum("n_tokens").over(w_run).cast("double")
            / F.sum("n_tokens").over(w_all)
        ).alias("cum_share"),
    )


_OVERLAP_PREFIX_TOKS = 16


@register(
    "source_overlap_matrix",
    # Presence-based: one count per (fingerprint, unordered source pair) —
    # NOT doc-pair counting, whose output is quadratic in duplicate-group
    # size by definition. The a.source < b.source join + DISTINCT mirror
    # the engine's sorted collect_set pair expansion exactly.
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT source,
             md5(array_to_string(
               ({DUCK_TOKS.format(col='text')})[1 : {_OVERLAP_PREFIX_TOKS}],
               ' ')) AS fp
      FROM documents
    ),
    p AS (SELECT a.source AS source_a, b.source AS source_b
          FROM h a JOIN h b ON a.fp = b.fp AND a.source < b.source)
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_shared_contents
    FROM p GROUP BY 1, 2
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source boilerplate-overlap matrix: for every unordered source
    pair, how many DISTINCT content fingerprints (md5 of the first
    ``_OVERLAP_PREFIX_TOKS`` normalized tokens — the shared-template /
    boilerplate-opening signal) both sources carry — the provenance audit
    a curation pipeline runs before choosing per-source sampling weights
    (two heavily-overlapping crawls should not both be upweighted; cf.
    the curation ops in this module, SURVEY.md §2.5). A prefix
    fingerprint, not the full text: distinct crawls rarely share
    byte-identical documents (this fixture has zero at sf0.01) but share
    templated openings constantly — and the prefix is also what a 100 TB
    pass can fingerprint without reading document tails.

    Scale shape (the r10 single-shuffle pair pattern, cf.
    functions/dedup.py::dedup_ngram_jaccard): ONE shuffle on the
    fingerprint, then pairs expand in-row from each fingerprint's sorted
    distinct-source set — bounded by C(#sources, 2) per fingerprint
    regardless of how many documents share it, so a template shared by a
    million docs at 100 TB costs one group, not 10^12 joined rows.
    Presence-based counts keep the OUTPUT bounded by
    #fingerprints x C(#sources, 2) too.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(SPARK_TOKS.format(col="text"))
    fps = d.select(
        F.md5(F.concat_ws(" ", F.slice(toks, 1, _OVERLAP_PREFIX_TOKS)))
        .alias("fp"),
        "source",
    ).distinct()
    srcs = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pair = F.explode(
        F.expr(
            "flatten(transform(sequence(0, size(srcs) - 2), i -> "
            "transform(slice(srcs, i + 2, size(srcs) - i - 1), s -> "
            "struct(srcs[i] AS source_a, s AS source_b))))"
        )
    ).alias("p")
    return (
        srcs.select(pair)
        .groupBy(F.col("p.source_a").alias("source_a"),
                 F.col("p.source_b").alias("source_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared_contents"))
    )


_SOURCE_CAP = 15  # max docs kept per source (binds at every fixture SF)


@register(
    "curation_source_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT source, lang, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars,
           CAST(min(n_chars) AS BIGINT) AS cap_boundary_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs_kept
    FROM ranked WHERE rn <= {_SOURCE_CAP}
    GROUP BY source
    """,
)
def curation_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping: keep at most ``_SOURCE_CAP`` documents per
    source, preferring longer documents (``n_chars`` DESC, ``doc_id`` tie
    break) — the "domain capping" step every web-scale curation pipeline
    runs so no single crawl domain dominates the training mixture
    (Gopher/RefinedWeb both cap per-domain contributions).

    Plan shape: one Exchange on ``source``, one ranked Window, then an
    exchange-free re-aggregation on the same key. At 100 TB the cap makes
    the window cheap to cut short — a production run first computes each
    source's approximate cap boundary from a per-partition partial top-K
    (only candidates above the boundary enter the exact window), so the
    full sort is over ~CAP x sources rows, not the corpus; the fixture
    spelling keeps the exact single-window form the oracle states.
    """
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    kept = d.select(
        "source", "lang", "n_chars", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= _SOURCE_CAP)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
        F.min("n_chars").alias("cap_boundary_chars"),
        F.countDistinct("lang").alias("n_langs_kept"),
    )


@register(
    "sample_importance_weighted",
    oracle=f"""
    WITH tagged AS (
      SELECT lang, n_chars,
             {duck_h32("('imp:' || CAST(doc_id AS VARCHAR))")} % 1000
               < least(1000, n_chars * 2) AS kept
      FROM documents
    )
    SELECT lang,
           CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(n_chars) FILTER (WHERE kept) AS BIGINT) AS kept_chars
    FROM tagged GROUP BY lang
    """,
)
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance-weighted sampling: each document is kept
    with probability proportional to its length (acceptance threshold
    ``min(1, n_chars * 2 / 1000)``), decided by a seeded content hash —
    the quality/length-weighted up-sampling step of a training-mixture
    build, made reproducible (same corpus -> same sample, on any cluster,
    at any parallelism) by replacing RNG state with a hash.

    The sample is a pure projection + filter — no shuffle at all until
    the bounded per-lang report; at 100 TB this is the only sampling
    recipe that needs zero coordination (no RNG seeds per partition, no
    sampled-count reconciliation) and it composes with the hash split
    (``sample_stratified_split``) because the seeds differ.
    """
    d = load_table(spark, sf_dir, "documents")
    hv = spark_h32("concat('imp:', cast(doc_id as string))")
    tagged = d.selectExpr(
        "lang",
        "n_chars",
        f"({hv} % 1000) < least(1000, n_chars * 2) AS kept",
    )
    return tagged.groupBy("lang").agg(
        F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("kept"), F.col("n_chars"))).alias("kept_chars"),
    )
