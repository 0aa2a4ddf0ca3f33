"""Similarity search over the ``embeddings`` table (array<float> vectors).

Two paths, both pure built-in expressions (``zip_with``/``aggregate`` are
JVM higher-order functions — no Python in the loop):

- **brute-force cosine top-k**: broadcast the (small) query set against the
  corpus scan. At 100 TB this is the correct baseline shape — one pass over
  the corpus, no shuffle of the corpus at all, k rows per query out of the
  top-k window.
- **LSH-bucketed ANN**: 8 deterministic random-hyperplane bits → bucket;
  candidates only within the query's bucket, then exact cosine re-rank.
  The bucket join replaces the full scan with ~1/256 of the corpus per
  query (at uniform bucket load). Hyperplane weights derive from the
  md5-hash family so the DuckDB oracle can replay them bit-for-bit.

All float math is double-precision with identical association order in
both engines → bit-identical cosines (verified), so even rank order is
oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import SHARED_MEMOS, register
from ..lifetime import checkpoint, shared
from ..sources import load_table, load_table_fanned
from ..sources.tables import fixture_key
from .hashes import hyperplane_weights

_N_QUERIES = 8  # vec_id < 8 are the query vectors
_TOP_K = 5
_N_PLANES = 8
_DIM = 64

_SPARK_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "0D, (acc, v) -> acc + v)"
)
_DUCK_DOT = "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"


def _spark_norm(v: str) -> str:
    return f"sqrt({_SPARK_DOT.format(a=v, b=v)})"


def _duck_norm(v: str) -> str:
    return f"sqrt({_DUCK_DOT.format(a=v, b=v)})"


# One exact pass and one ANN pass serve both their own entries and the
# recall@K evaluation (r14, guide §1.2: similarity_lsh_recall is a join
# OVER the two entries' outputs verbatim — re-running both pipelines
# inside it was pure duplicate work, the same shape the embedding-pair /
# cc_labels memos eliminate). Each shared frame is its carrier entry's
# OWN output, eagerly checkpoint-materialized under its lifetime tag
# ("topk_exact" / "topk_ann").


def _shared_over_embeddings(spark: SparkSession, sf_dir: str, tag: str, build):
    """``build``'s frame, checkpointed once per (session, embeddings
    fixture generation) under lifetime tag ``tag``."""
    return shared(
        spark,
        tag,
        fixture_key(sf_dir, "embeddings"),
        lambda: checkpoint(build(spark, sf_dir)),
    )


@register(
    "similarity_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id,
             {_DUCK_DOT.format(a='q.qe', b='e.embedding')}
               / ({_duck_norm('q.qe')} * {_duck_norm('e.embedding')}) AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine, CAST(rn AS INT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {_TOP_K}
    """,
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries × one corpus scan.
    Returns the shared, materialized top-k (_exact_topk) — this entry is
    the exact side's carrier; similarity_lsh_recall reads the same
    materialization instead of re-running the brute-force scan."""
    return _exact_topk(spark, sf_dir)


def _exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared exact top-k frame (one brute-force pass serves the entry
    and the recall evaluation — r14, guide §1.2)."""
    return _shared_over_embeddings(spark, sf_dir, "topk_exact", _build_exact_topk)


def _build_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table_fanned(spark, sf_dir, "embeddings", key="vec_id")
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    dot = _SPARK_DOT.format(a="qe", b="embedding")
    cos = f"{dot} / ({_spark_norm('qe')} * {_spark_norm('embedding')})"
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .selectExpr("query_id", "vec_id", f"{cos} AS cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "vec_id", "cosine", "rn")
    )


# Multi-table hyperplane LSH (OR-amplification): L tables × B planes.
# Neighbors at cosine ~0.3-0.5 have per-plane agreement p≈0.6 — a single
# wide code (8 bits) almost never matches on all bits, so candidates come
# from ANY of L narrow tables instead (1-(1-p^B)^L recall curve).
_N_TABLES = 8
_PLANES_PER_TABLE = 4
# Hyperplane weights are PRECOMPUTED constants (hashes.hyperplane_weights,
# same md5 family) embedded as literals — evaluating 2048 md5s per row was
# the difference between a plan that scales and one that doesn't.
_W = hyperplane_weights(_N_TABLES * _PLANES_PER_TABLE, _DIM)


def _spark_plane(p: int) -> str:
    lits = ",".join(f"{w!r}D" for w in _W[p])
    return (
        f"aggregate(zip_with(embedding, array({lits}), "
        f"(x, w) -> cast(x as double) * w), 0D, (acc, v) -> acc + v)"
    )


def _duck_plane(p: int, vec: str) -> str:
    lits = ",".join(repr(w) for w in _W[p])
    return f"list_dot_product({vec}::DOUBLE[], [{lits}]::DOUBLE[])"


def _spark_buckets() -> str:
    """Array of L bucket ids over column ``embedding``; table index baked
    into the bucket value."""
    buckets = []
    for t in range(_N_TABLES):
        bits = " + ".join(
            f"CASE WHEN {_spark_plane(t * _PLANES_PER_TABLE + i)} >= 0 "
            f"THEN {1 << i}L ELSE 0L END"
            for i in range(_PLANES_PER_TABLE)
        )
        buckets.append(f"{t}L * 4294967296L + ({bits})")
    return "array(" + ", ".join(buckets) + ")"


def _duck_buckets(vec: str) -> str:
    buckets = []
    for t in range(_N_TABLES):
        bits = " + ".join(
            f"CASE WHEN {_duck_plane(t * _PLANES_PER_TABLE + i, vec)} >= 0 "
            f"THEN {1 << i} ELSE 0 END"
            for i in range(_PLANES_PER_TABLE)
        )
        buckets.append(f"{t} * 4294967296 + ({bits})")
    return "[" + ", ".join(buckets) + "]"


@register(
    "similarity_lsh_ann",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, unnest({_duck_buckets('embedding')}) AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM bucketed
          WHERE vec_id < {_N_QUERIES}),
    cand AS (
      SELECT DISTINCT q.query_id, q.qe, e.vec_id, e.embedding
      FROM q JOIN bucketed e ON e.bucket = q.bucket AND e.vec_id <> q.query_id
    ),
    scored AS (
      SELECT query_id, vec_id,
             {_DUCK_DOT.format(a='qe', b='embedding')}
               / ({_duck_norm('qe')} * {_duck_norm('embedding')}) AS cosine
      FROM cand
    )
    SELECT query_id, vec_id, cosine, CAST(rn AS INT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {_TOP_K}
    """,
)
def similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: multi-table hyperplane-LSH candidates + exact cosine re-rank.
    Returns the shared, materialized ANN top-k (_ann_topk) — this entry
    is the ANN side's carrier; similarity_lsh_recall reads the same
    materialization instead of re-running the bucket join + re-rank."""
    return _ann_topk(spark, sf_dir)


def _ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ANN top-k frame (one LSH pass serves the entry and the
    recall evaluation — r14, guide §1.2)."""
    return _shared_over_embeddings(spark, sf_dir, "topk_ann", _build_ann_topk)


def _build_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual ANN pipeline (un-memoized).

    Scale shape: corpus is bucketed in one pass (L bucket ids per vector);
    the candidate join is an equi-join on bucket id (shuffle-free if the
    corpus is pre-partitioned by bucket); only candidates get the exact
    cosine, and DISTINCT dedups multi-table hits before re-ranking.
    """
    e = load_table_fanned(spark, sf_dir, "embeddings", key="vec_id")
    bucketed = e.selectExpr(
        "vec_id", "embedding", f"explode({_spark_buckets()}) AS bucket"
    )
    q = bucketed.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qbucket"),
    )
    cand = (
        bucketed.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "qe", "vec_id", "embedding")
        .distinct()
    )
    dot = _SPARK_DOT.format(a="qe", b="embedding")
    cos = f"{dot} / ({_spark_norm('qe')} * {_spark_norm('embedding')})"
    scored = cand.selectExpr("query_id", "vec_id", f"{cos} AS cosine")
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "vec_id", "cosine", "rn")
    )


# Near-dup threshold tuned to the fixture's cosine distribution (max
# inter-vector cosine ≈ 0.51); the operator SHAPE is threshold-agnostic.
_NEARDUP_COS = 0.4
# LSH cells over this size are triangle-block salted (functions/skew.py);
# a 4096² float64 GEMM is ~130 MB / sub-second per task.
_GEMM_BUCKET_CAP = 4096

# One pair-generation pass serves both embedding-dedup entries (r14, guide
# §1.2: dedup_embedding_keep_first is a composition OVER the pair stream —
# re-running the bucketing + GEMM-prefilter + exact-verify pipeline per
# entry was pure duplicate work, the same shape the cc_labels /
# funnel / interval_fo memos already eliminate). The shared frame is the
# carrier entry's OWN output (vec_a, vec_b, cosine), eagerly
# checkpoint-materialized under the "embedding_pairs" lifetime tag so the
# second reader gets real rows, not a lazy plan.


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, unnest({_duck_buckets('embedding')}) AS bucket
      FROM embeddings
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT vec_a, vec_b,
             {_DUCK_DOT.format(a='ea.embedding', b='eb.embedding')}
               / ({_duck_norm('ea.embedding')} * {_duck_norm('eb.embedding')})
               AS cosine
      FROM cand JOIN embeddings ea ON cand.vec_a = ea.vec_id
                JOIN embeddings eb ON cand.vec_b = eb.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {_NEARDUP_COS}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH candidates + exact verify.
    Returns the shared, materialized pair stream (_embedding_pairs) —
    this entry is the pair pipeline's carrier; dedup_embedding_keep_first
    derives from the same materialization."""
    return _embedding_pairs(spark, sf_dir)


def _embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (vec_a, vec_b, cosine) near-dup pair stream at the
    ``_NEARDUP_COS`` threshold — one ingest serving both embedding-dedup
    entries."""
    return _shared_over_embeddings(
        spark, sf_dir, "embedding_pairs", _build_embedding_pairs
    )


def _build_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual pair pipeline (un-memoized).

    The all-pairs problem (quadratic in corpus size) is cut to bucket-local
    self-joins: vectors sharing ANY of the 8 hyperplane-LSH bucket ids
    become candidates (OR-amplification recall curve, see similarity_lsh_ann)
    and only candidates pay the exact-cosine verification. Candidate pairs
    whose every bucket disagrees are not surfaced — the documented LSH
    recall trade, applied identically by the oracle. Scale shape: one
    bucketing pass over the corpus, a self-equi-join on bucket id, then an
    exact re-check joined by vec_id. Hot buckets are triangle-block salted
    (functions/skew.py): a bucket over ``_GEMM_BUCKET_CAP`` rows is split
    into salted blocks and its pair space fanned over block pairs, so the
    per-task GEMM stays bounded instead of one straggler task owning the
    whole hot cell.
    """
    import numpy as np
    import pandas as pd

    from .skew import with_triangle_blocks

    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.selectExpr(
        "vec_id", "embedding", f"explode({_spark_buckets()}) AS bucket"
    )

    # Candidate pairs per bucket block via one numpy matmul (vectorized
    # Pandas UDF path): an LSH cell's all-pairs cosine is a tiny dense GEMM,
    # vs a pair-join that shuffles ~40% of all pairs at this threshold and
    # pays an interpreted 64-dim dot per pair (measured 3× slower at sf0.1).
    # numpy is a PREFILTER only (threshold − 1e-9 guards its different
    # summation order); survivors get the exact JVM-expression cosine
    # below, so emitted values stay bit-identical to the oracle.
    #
    # Block semantics (exact-once per pair): the diagonal block (bi == bj)
    # computes its own triangle; an off-diagonal block computes only the
    # cross pairs between its two salt sides.
    def pairs_in_block(key, pdf):
        _, bi, bj = key
        empty = pd.DataFrame({"vec_a": [], "vec_b": []}, dtype="int64")
        if bi == bj:
            if len(pdf) < 2:
                return empty
            M = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            M /= np.linalg.norm(M, axis=1, keepdims=True)
            cos = M @ M.T
            ids = pdf["vec_id"].to_numpy()
            ii, jj = np.triu_indices(len(ids), k=1)
            keep = cos[ii, jj] >= _NEARDUP_COS - 1e-9
            ai, bv = ids[ii[keep]], ids[jj[keep]]
        else:
            pa, pb = pdf[pdf["_salt"] == bi], pdf[pdf["_salt"] == bj]
            if pa.empty or pb.empty:
                return empty
            Ma = np.asarray(pa["embedding"].tolist(), dtype=np.float64)
            Mb = np.asarray(pb["embedding"].tolist(), dtype=np.float64)
            Ma /= np.linalg.norm(Ma, axis=1, keepdims=True)
            Mb /= np.linalg.norm(Mb, axis=1, keepdims=True)
            cos = Ma @ Mb.T
            ii, jj = np.nonzero(cos >= _NEARDUP_COS - 1e-9)
            ai = pa["vec_id"].to_numpy()[ii]
            bv = pb["vec_id"].to_numpy()[jj]
        return pd.DataFrame(
            {"vec_a": np.minimum(ai, bv), "vec_b": np.maximum(ai, bv)}
        )

    # Exact hot-cell bound: a bucket id embeds its LSH-table index, so one
    # vector contributes at most one row per cell → cell size ≤ n_vecs
    # (parquet-metadata count). Below the cap this skips the count
    # pre-pass entirely (functions/skew.py tier 1); above it the exact
    # probe/salting machinery runs as before.
    n_vecs = e.count()
    blocked = with_triangle_blocks(
        bucketed, ["bucket"], "vec_id", cap=_GEMM_BUCKET_CAP,
        max_group_bound=n_vecs,
    )
    cand = (
        blocked.groupBy("bucket", "_bi", "_bj")
        .applyInPandas(pairs_in_block, "vec_a long, vec_b long")
        .distinct()
    )
    # Exact verify on the (small) surviving set: per-vector norms computed
    # once, same expression tree as the oracle → bit-identical cosines.
    ea = e.selectExpr(
        "vec_id AS vec_a", "embedding AS emb_a", f"{_spark_norm('embedding')} AS norm_a"
    )
    eb = e.selectExpr(
        "vec_id AS vec_b", "embedding AS emb_b", f"{_spark_norm('embedding')} AS norm_b"
    )
    dot = _SPARK_DOT.format(a="emb_a", b="emb_b")
    cos = f"{dot} / (norm_a * norm_b)"
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .selectExpr("vec_a", "vec_b", f"{cos} AS cosine")
        .filter(F.col("cosine") >= _NEARDUP_COS)
        .select("vec_a", "vec_b", "cosine")
    )


@register(
    "dedup_embedding_keep_first",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, unnest({_duck_buckets('embedding')}) AS bucket
      FROM embeddings
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT vec_a, vec_b,
             {_DUCK_DOT.format(a='ea.embedding', b='eb.embedding')}
               / ({_duck_norm('ea.embedding')} * {_duck_norm('eb.embedding')})
               AS cosine
      FROM cand JOIN embeddings ea ON cand.vec_a = ea.vec_id
                JOIN embeddings eb ON cand.vec_b = eb.vec_id
    ),
    dropped AS (SELECT DISTINCT vec_b FROM scored WHERE cosine >= {_NEARDUP_COS})
    SELECT e.vec_id, e.label
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_b
    WHERE d.vec_b IS NULL
    """,
)
def dedup_embedding_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup curated corpus (SemDeDup-style): drop every vector
    that is the HIGHER id of an embedding near-dup pair, keep the rest.

    The greedy lowest-id-wins rule composes directly on the pair stream
    from dedup_embedding_cosine — no clustering pass needed — and is the
    standard first-order semantic dedup: each near-dup pair loses its
    later member, so at least one representative of every duplicate
    neighborhood survives. Scale shape: the pair generation dominates
    and is SHARED with dedup_embedding_cosine via the embedding_pairs
    materialization (r14); the keep step is one left-anti join of the
    corpus against the (far smaller) dropped-id set.
    """
    dropped = _embedding_pairs(spark, sf_dir).select("vec_b").distinct()
    e = load_table(spark, sf_dir, "embeddings")
    return e.join(
        dropped, e.vec_id == dropped.vec_b, "left_anti"
    ).select("vec_id", "label")


# Recall participates in both top-k tags so its re-runs (isolated
# adjudication) re-pay both sides' pipelines — first-touch of the whole
# dependency chain, same posture as the CC entries in minhash_pairs.
SHARED_MEMOS.update(
    {
        "embedding_pairs": {"dedup_embedding_cosine", "dedup_embedding_keep_first"},
        "topk_exact": {"similarity_cosine_topk", "similarity_lsh_recall"},
        "topk_ann": {"similarity_lsh_ann", "similarity_lsh_recall"},
    }
)


# IVF-flavored ANN: a coarse quantizer partitions the corpus into cells;
# queries probe only the nearest nprobe cells. Centroids are the first
# _IVF_K corpus vectors (deterministic k-means-style init — at scale these
# would be refined by a few Lloyd iterations, which changes recall, not the
# operator shape). Cell assignment is a broadcast join against _IVF_K rows;
# the probe join is an equi-join on cell id — the inverted-file analogue of
# the LSH bucket join, with tunable recall via _NPROBE instead of tables.
_IVF_K = 16
_NPROBE = 4


@register(
    "similarity_ivf_ann",
    oracle=f"""
    WITH nrm AS (
      SELECT vec_id, embedding, {_duck_norm('embedding')} AS nr FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, embedding AS cemb, nr AS cnr FROM nrm
              WHERE vec_id < {_IVF_K}),
    affin AS (
      SELECT n.vec_id, c.cid,
             {_DUCK_DOT.format(a='n.embedding', b='c.cemb')} / (n.nr * c.cnr) AS ccos
      FROM nrm n CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS arn
        FROM affin) WHERE arn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS prn
        FROM affin WHERE vec_id < {_N_QUERIES}) WHERE prn <= {_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assigned a ON p.cid = a.cid AND a.vec_id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.vec_id,
             {_DUCK_DOT.format(a='q.embedding', b='e.embedding')} / (q.nr * e.nr) AS cosine
      FROM cand c JOIN nrm q ON c.query_id = q.vec_id
                  JOIN nrm e ON c.vec_id = e.vec_id
    )
    SELECT query_id, vec_id, cosine, CAST(rn AS INT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {_TOP_K}
    """,
)
def similarity_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus once, probe nprobe cells.

    Scale shape: assignment is one broadcast pass (centroid table is tiny
    and in-plan); the corpus can be WRITTEN partitioned by cell id, making
    each query's probe a partition-pruned scan of nprobe/K of the data —
    the batch analogue of a vector index. No all-pairs stage exists.
    """
    e = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "embedding", f"{_spark_norm('embedding')} AS nr"
    )
    cents = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cemb"),
        F.col("nr").alias("cnr"),
    )
    cdot = _SPARK_DOT.format(a="embedding", b="cemb")
    affin = e.crossJoin(F.broadcast(cents)).selectExpr(
        "vec_id", "cid", f"{cdot} / (nr * cnr) AS ccos"
    )
    wv = W.partitionBy("vec_id").orderBy(F.col("ccos").desc(), "cid")
    assigned = (
        affin.withColumn("arn", F.row_number().over(wv))
        .filter(F.col("arn") == 1)
        .select("vec_id", "cid")
    )
    probes = (
        affin.filter(F.col("vec_id") < _N_QUERIES)
        .withColumn("prn", F.row_number().over(wv))
        .filter(F.col("prn") <= _NPROBE)
        .select(F.col("vec_id").alias("query_id"), "cid")
    )
    cand = probes.join(assigned, "cid").filter(
        F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id")
    q = e.selectExpr("vec_id AS query_id", "embedding AS qe", "nr AS qnr")
    c = e.selectExpr("vec_id", "embedding AS ce", "nr AS cnr2")
    sdot = _SPARK_DOT.format(a="qe", b="ce")
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "vec_id")
        .selectExpr("query_id", "vec_id", f"{sdot} / (qnr * cnr2) AS cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "vec_id", "cosine", "rn")
    )


# --- int8 scalar quantization (absmax) -----------------------------------
#
# The standard 4x memory-reduction recipe for corpus-scale vector search:
# each vector is quantized to 64 int8 codes + one scale; distance math runs
# on integers (JVM whole-stage codegen), floats only at the final division.
# Rounding is floor(x + 0.5) rather than round() — round()'s half-even vs
# half-up behavior differs across engines at midpoints (verify-skill
# gotcha), while floor is bit-identical everywhere.

_QSCALE = 127.0


def _spark_absmax(v: str) -> str:
    return (
        f"greatest(aggregate({v}, 0D, (acc, x) -> "
        f"greatest(acc, abs(cast(x as double)))), 1e-30D)"
    )


@register(
    "similarity_quantized_topk",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding,
             greatest(list_max([abs(x::DOUBLE) for x in embedding]), 1e-30) AS mx
      FROM embeddings
    ),
    qz AS (
      SELECT vec_id,
             [CAST(floor(x::DOUBLE / mx * {_QSCALE} + 0.5) AS BIGINT)
              for x in embedding] AS qv
      FROM base
    ),
    n AS (
      SELECT vec_id, qv,
             sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) AS qn
      FROM qz
    ),
    q AS (SELECT vec_id AS query_id, qv AS qqv, qn AS qqn FROM n
          WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id,
             list_dot_product(q.qqv::DOUBLE[], e.qv::DOUBLE[])
               / (q.qqn * e.qn) AS approx_cosine
      FROM q JOIN n e ON e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, approx_cosine, CAST(rn AS INT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY approx_cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {_TOP_K}
    """,
)
def similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over int8-quantized vectors (absmax scalar
    quantization): quantize once per vector, run the candidate scan on
    integer dot products, floats only at the final cosine division.

    100 TB shape: identical to the brute-force baseline (broadcast queries
    x one corpus scan, no corpus shuffle) but the scanned vector payload
    is 1/4 the bytes and the hot loop is integer multiply-add. Recall loss
    vs exact cosine is the documented quantization trade; the oracle
    replays the same arithmetic, so results (including rank order) are
    verified bit-for-bit.
    """
    e = load_table_fanned(spark, sf_dir, "embeddings", key="vec_id")
    mx = _spark_absmax("embedding")
    qv = (
        f"transform(embedding, x -> "
        f"cast(floor(cast(x as double) / mx * {_QSCALE}D + 0.5D) as bigint))"
    )
    qdot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    quantized = (
        e.selectExpr("vec_id", "embedding", f"{mx} AS mx")
        .selectExpr("vec_id", f"{qv} AS qv")
        .selectExpr(
            "vec_id",
            "qv",
            f"sqrt(cast({qdot.format(a='qv', b='qv')} as double)) AS qn",
        )
    )
    q = quantized.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qqv"),
        F.col("qn").alias("qqn"),
    )
    cos = f"cast({qdot.format(a='qqv', b='qv')} as double) / (qqn * qn)"
    scored = (
        quantized.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .selectExpr("query_id", "vec_id", f"{cos} AS approx_cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_cosine").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "vec_id", "approx_cosine", "rn")
    )


# --- k-means: one exact Lloyd step ------------------------------------------

_KM_K = 8  # vec_id < K seed the centroids (same convention as IVF)


@register(
    "kmeans_lloyd_step",
    # Assignment distance is the SAME expression tree in both engines —
    # ((aa - 2*ab) + bb) over identical double dot products — so argmin
    # (with cid tie-break) picks identical clusters; the new centroids are
    # per-dimension DECIMAL-exact means of float32 components.
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    cents AS (SELECT vec_id AS cid, embedding AS cemb FROM e
              WHERE vec_id < {_KM_K}),
    d AS (
      SELECT e.vec_id, c.cid,
             (({_DUCK_DOT.format(a='e.embedding', b='e.embedding')}
               - 2 * {_DUCK_DOT.format(a='e.embedding', b='c.cemb')})
               + {_DUCK_DOT.format(a='c.cemb', b='c.cemb')}) AS dist
      FROM e CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d) WHERE rn = 1
    ),
    comp_raw AS (
      -- no WITH ORDINALITY / lateral-list unnest in this DuckDB: explode
      -- via a select-list struct comprehension over the fixed dim
      SELECT a.cid,
             unnest([struct_pack(dim := i,
                                 x := CAST(e.embedding[i + 1] AS DOUBLE))
                     for i in range(64)]) AS u
      FROM assigned a JOIN e ON e.vec_id = a.vec_id
    ),
    comp AS (SELECT cid, u.dim AS dim, u.x AS x FROM comp_raw)
    SELECT CAST(cid AS INT) AS cid, CAST(dim AS INT) AS dim,
           CAST(sum(CAST(floor(x * 10000000000.0) AS BIGINT)) AS DOUBLE)
             / count(*) / 10000000000.0 AS centroid,
           CAST(count(*) AS BIGINT) AS n_values
    FROM comp GROUP BY cid, dim
    """,
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EXACT Lloyd iteration of k-means over the embeddings corpus:
    assign every vector to its nearest seed centroid (squared-euclidean
    argmin, deterministic tie-break), then recompute centroids as
    per-dimension means (floor-quantized integer sums — see the in-code
    note) — the building block of distributed clustering (a full k-means
    is this step iterated, centroids re-broadcast each round).

    Scale shape: assignment is a broadcast of K centroid literals against
    one corpus scan (no shuffle); the recomputation is a (K × dim)-key
    aggregation with map-side combine — update sizes are K·dim, never
    corpus-sized. Numeric discipline: the distance is the identical
    double expression tree in both engines (term-dropping or reassociation
    would let float ties flip assignments); means are order-free integer
    sums of floor-quantized components, divided once.
    """
    e = load_table_fanned(spark, sf_dir, "embeddings", key="vec_id").select("vec_id", "embedding")
    cents = e.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    aa = _SPARK_DOT.format(a="embedding", b="embedding")
    ab = _SPARK_DOT.format(a="embedding", b="cemb")
    bb = _SPARK_DOT.format(a="cemb", b="cemb")
    d = e.crossJoin(F.broadcast(cents)).selectExpr(
        "vec_id", "cid", f"(({aa} - 2 * {ab}) + {bb}) AS dist"
    )
    w = W.partitionBy("vec_id").orderBy("dist", "cid")
    assigned = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    comp = (
        assigned.join(e, "vec_id")
        .select("cid", F.posexplode("embedding").alias("dim", "x"))
    )
    return comp.groupBy("cid", "dim").agg(
        (
            # Integer-scaled FLOOR quantization (not a decimal cast): the
            # engines' decimal casts round midpoints differently (half-up
            # vs half-even), but floor of the identical double product is
            # unambiguous — the mean is then exact integer arithmetic with
            # two identical IEEE divisions at the end.
            F.sum(
                F.floor(F.col("x").cast("double") * 1e10).cast("long")
            ).cast("double")
            / F.count(F.lit(1))
            / F.lit(1e10)
        ).alias("centroid"),
        F.count("*").alias("n_values"),
    )


# --- ANN quality self-evaluation --------------------------------------------


@register(
    "similarity_lsh_recall",
    # Exact top-K and LSH top-K are the two catalog pipelines verbatim;
    # recall@K = |intersection| / K per query. Integer hits and one
    # division of identical integers — no float comparison surface beyond
    # the cosine orderings both entries already pin.
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < {_N_QUERIES}),
    exact_scored AS (
      SELECT q.query_id, e.vec_id,
             {_DUCK_DOT.format(a='q.qe', b='e.embedding')}
               / ({_duck_norm('q.qe')} * {_duck_norm('e.embedding')}) AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ),
    exact_topk AS (
      SELECT query_id, vec_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id) AS rn
            FROM exact_scored) WHERE rn <= {_TOP_K}
    ),
    bucketed AS (
      SELECT vec_id, embedding, unnest({_duck_buckets('embedding')}) AS bucket
      FROM embeddings
    ),
    qb AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM bucketed
           WHERE vec_id < {_N_QUERIES}),
    cand AS (
      SELECT DISTINCT qb.query_id, qb.qe, e.vec_id, e.embedding
      FROM qb JOIN bucketed e ON e.bucket = qb.bucket
                             AND e.vec_id <> qb.query_id
    ),
    ann_scored AS (
      SELECT query_id, vec_id,
             {_DUCK_DOT.format(a='qe', b='embedding')}
               / ({_duck_norm('qe')} * {_duck_norm('embedding')}) AS cosine
      FROM cand
    ),
    ann_topk AS (
      SELECT query_id, vec_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id) AS rn
            FROM ann_scored) WHERE rn <= {_TOP_K}
    )
    SELECT x.query_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_hits,
           CAST(count(a.vec_id) AS DOUBLE) / {_TOP_K} AS recall_at_k
    FROM exact_topk x
    LEFT JOIN ann_topk a ON a.query_id = x.query_id AND a.vec_id = x.vec_id
    GROUP BY x.query_id
    """,
)
def similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{K} of the hyperplane-LSH ANN against the exact brute-force
    top-K, per query — the evaluation loop every ANN deployment runs
    before trusting an index (and the honest face of "approximate": the
    catalog measures its own approximation instead of asserting it).

    Composition: both sides are the existing catalog pipelines verbatim
    (`similarity_cosine_topk`, `similarity_lsh_ann`) — and since r14 both
    are SHARED with those entries via the topk_exact / topk_ann memos, so
    the report is one left join + count over two already-materialized
    K-row-per-query sets. At 100 TB the exact side runs on a SAMPLE of
    queries (it is the expensive one) — the report shape is unchanged.
    """
    exact = similarity_cosine_topk(spark, sf_dir).select("query_id", "vec_id")
    ann = similarity_lsh_ann(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("vec_id").alias("av")
    )
    return (
        exact.join(
            ann,
            (F.col("query_id") == F.col("aq")) & (F.col("vec_id") == F.col("av")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("av").alias("n_hits"),
            (F.count("av").cast("double") / F.lit(_TOP_K)).alias("recall_at_k"),
        )
    )
