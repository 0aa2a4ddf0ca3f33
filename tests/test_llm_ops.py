"""Engineering checks for the LLM-pipeline operators beyond oracle equality."""

from pyspark.sql import functions as F

from spark_states_spark.functions.dedup import dedup_minhash_lsh_pairs, dedup_ngram_jaccard
from spark_states_spark.functions.multimodal import (
    bmp_geometry,
    decode_image_real,
    decode_image_stub,
    encode_bmp,
    encode_wav,
    extract_features,
    media_table,
    parse_bmp,
    parse_wav,
    wav_params,
)
from spark_states_spark.functions.similarity import (
    similarity_cosine_topk,
    similarity_lsh_ann,
)

import pytest


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    """LSH ANN must recover a meaningful fraction of true top-5 neighbors.

    8 hyperplanes → 256 buckets over 5 000 vectors is aggressive; this
    guards the wiring (a broken bucket join would give ~0 recall), not a
    tuned recall target.
    """
    truth = {
        (r.query_id, r.vec_id) for r in similarity_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        (r.query_id, r.vec_id) for r in similarity_lsh_ann(spark, sf_dir).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.2, f"ANN recall collapsed: {recall:.2f}"


def test_minhash_estimates_track_exact_jaccard(spark, sf_dir):
    """For pairs surfaced by both MinHash-LSH and exact trigram Jaccard,
    the signature estimate should be within 0.35 of the exact value
    (16 permutations → σ ≈ 0.125)."""
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup_minhash_lsh_pairs(spark, sf_dir).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    both = set(est) & set(exact)
    assert both, "no overlap between LSH candidates and exact near-dup pairs"
    worst = max(abs(est[p] - exact[p]) for p in both)
    assert worst <= 0.35, f"minhash estimate diverges from exact jaccard by {worst}"


def test_multimodal_batch_plumbing(spark, sf_dir_small):
    """mapInPandas decode: schema, determinism across partitionings, and
    per-container field population."""
    media = media_table(spark, sf_dir_small)
    feats = extract_features(media)
    rows = {r.doc_id: r for r in feats.collect()}
    # deterministic under a different partitioning
    rows2 = {r.doc_id: r for r in extract_features(media.repartition(7)).collect()}
    assert rows.keys() == rows2.keys()
    some = next(iter(rows))
    assert rows[some] == rows2[some]
    for r in rows.values():
        assert len(r.feature) == 8 and all(0.0 <= v <= 1.0 for v in r.feature)
        if r.media_type == "image":
            assert r.container == "bmp" and r.width >= 16 and r.height >= 16
            assert r.n_frames == 1 and r.n_samples is None
        elif r.media_type == "audio":
            assert r.container == "wav" and r.width is None
            assert r.n_samples >= 64 and r.sample_rate_hz >= 8000
        else:
            assert r.container == "raw" and 1 <= r.n_frames <= 8


def test_bmp_roundtrip_is_a_real_parse():
    """encode_bmp writes genuine BITMAPFILE/INFO headers; parse_bmp reads
    the geometry back out of the struct-packed bytes alone."""
    for payload in (b"x", b"hello world" * 50, bytes(range(256)), b"\x00" * 4097):
        bmp = encode_bmp(payload)
        assert bmp[:2] == b"BM"
        assert parse_bmp(bmp) == bmp_geometry(len(payload))
    # the parser is not a passthrough: flipping the bpp field is rejected
    bad = bytearray(encode_bmp(b"abc"))
    bad[28] = 8  # biBitCount 24 -> 8
    with pytest.raises(ValueError):
        parse_bmp(bytes(bad))
    with pytest.raises(ValueError):
        parse_bmp(b"PNG not a bmp")
    # truncated pixel array: size fields no longer match the file
    with pytest.raises(ValueError):
        parse_bmp(encode_bmp(b"abc")[:-10])


def test_wav_roundtrip_walks_riff_chunks():
    for payload in (b"x", b"pcm" * 999, bytes(range(256))):
        wav = encode_wav(payload)
        assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
        assert parse_wav(wav) == wav_params(len(payload))
    bad = bytearray(encode_wav(b"abc"))
    bad[20] = 85  # fmt tag PCM -> MP3
    with pytest.raises(ValueError):
        parse_wav(bytes(bad))
    with pytest.raises(ValueError):
        parse_wav(b"RIFFxxxxAVI ")
    # RIFF size field inconsistent after truncation
    with pytest.raises(ValueError):
        parse_wav(encode_wav(b"abc")[:-2])


def test_real_decoder_is_gated():
    with pytest.raises(NotImplementedError):
        decode_image_real(b"\x89PNG....")


def test_stub_decoder_deterministic():
    a = decode_image_stub(b"hello world payload")
    b = decode_image_stub(b"hello world payload")
    assert a == b


_URL_CANON_CASES = [
    # (raw, canonical)
    (
        "HTTPS://SRC1.example.com/docs/3/?utm_source=feed&id=3&lang=en#section-2",
        "https://src1.example.com/docs/3?id=3&lang=en",
    ),
    ("https://h.com/a?id=3&ref=rss&lang=en", "https://h.com/a?id=3&lang=en"),
    ("https://h.com/a/?utm_source=x", "https://h.com/a"),  # all params stripped
    ("https://h.com/a?b=2&a=1", "https://h.com/a?a=1&b=2"),  # param order
    ("https://h.com/a", "https://h.com/a"),  # already canonical
    ("https://h.com/a#frag", "https://h.com/a"),
]


def test_url_canonicalizer_cases_both_dialects(spark):
    """The URL canonicalizer must make identical decisions in the Spark and
    DuckDB dialects on every edge case: host-case, tracking params, param
    sort, fragments, trailing slash, no-query passthrough."""
    import duckdb

    from spark_states_spark.functions.pipeline import _canon_duck, _canon_spark

    con = duckdb.connect()
    try:
        for raw, want in _URL_CANON_CASES:
            got_duck = con.execute(f"SELECT {_canon_duck(repr(raw))}").fetchone()[0]
            got_spark = (
                spark.range(1).selectExpr(f"{_canon_spark(repr(raw))} AS c").collect()[0].c
            )
            assert got_duck == want, f"duckdb: {raw!r} -> {got_duck!r}"
            assert got_spark == want, f"spark: {raw!r} -> {got_spark!r}"
    finally:
        con.close()


def test_tokenizer_spellings_agree(spark, sf_dir):
    """The four tokenizer spellings cannot drift: TOKENS_SQL is DUCK_TOKS
    by identity (text.py re-exports it), and this test pins the Column-API
    tokens_col to the SPARK_TOKS SQL string on the real corpus (the
    SPARK_TOKS == DUCK_TOKS pair is pinned by every oracle differential)."""
    from pyspark.sql import functions as F

    from spark_states_spark.functions.hashes import DUCK_TOKS, SPARK_TOKS
    from spark_states_spark.functions.text import TOKENS_SQL, tokens_col
    from spark_states_spark.sources import load_table

    assert TOKENS_SQL is DUCK_TOKS
    d = load_table(spark, sf_dir, "documents")
    mismatch = (
        d.select(
            tokens_col(F.col("text")).alias("a"),
            F.expr(SPARK_TOKS.format(col="text")).alias("b"),
        )
        .filter(~F.col("a").eqNullSafe(F.col("b")))
        .count()
    )
    assert mismatch == 0


def _docs_fixture(tmp_path, texts):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["web"] * len(texts), pa.string()),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    d = str(tmp_path / "rarity_fixture")
    os.makedirs(d)
    pq.write_table(t, os.path.join(d, "documents.parquet"))
    return d


def test_rarity_score_known_answers(spark, tmp_path):
    """Hand-computed corpus frequencies on a 4-doc corpus, including a
    repeated-token doc (tf weighting), an all-hapax doc, and an EMPTY doc
    that must drop at the explode (not surface as a zero-division row)."""
    from spark_states_spark.catalog import QUERIES

    d = _docs_fixture(
        tmp_path,
        ["the cat sat", "the the dog", "unique", ""],
    )
    # corpus: the x3, cat/sat/dog/unique x1 each
    got = {
        r.doc_id: (r.n_tokens, r.mean_token_corpus_freq, r.hapax_frac)
        for r in QUERIES["text_rarity_score"](spark, d).collect()
    }
    assert got == {
        1: (3, (3 + 1 + 1) / 3, 2 / 3),   # the, cat, sat
        2: (3, (3 + 3 + 1) / 3, 1 / 3),   # the, the, dog (tf-weighted)
        3: (1, 1.0, 1.0),                  # all-hapax
    }


def test_rarity_score_python_recompute(spark, sf_dir):
    """Per-doc means and hapax shares must equal a Counter recompute with
    the shared tokenizer over the real fixture."""
    from collections import Counter

    from spark_states_spark.catalog import QUERIES
    from spark_states_spark.functions.text import tokens_col
    from spark_states_spark.sources import load_table

    got = {
        r.doc_id: (r.n_tokens, r.mean_token_corpus_freq, r.hapax_frac)
        for r in QUERIES["text_rarity_score"](spark, sf_dir).collect()
    }
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .collect()
    )
    cf = Counter()
    for r in docs:
        cf.update(r.toks)
    ref = {}
    for r in docs:
        if not r.toks:
            continue
        n = len(r.toks)
        ref[r.doc_id] = (
            n,
            sum(cf[t] for t in r.toks) / n,
            sum(1 for t in r.toks if cf[t] == 1) / n,
        )
    assert got == ref


def _brute_jaccard_pairs(sets, tn=3, td=5):
    """All-pairs exact set-Jaccard >= tn/td reference (pure Python)."""
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if (td + tn) * inter >= tn * (len(sets[a]) + len(sets[b])):
                out[(a, b)] = inter
    return out


def test_prefix_filter_join_is_complete_on_common_shingle_overlap(spark):
    """The adversarial case the df-capped sibling DROPS by design: pairs
    whose entire overlap is COMMON elements (df > its 50 cap). The
    prefix-filter join must surface every such pair — completeness is the
    entry's contract (AllPairs lemma: the global rarest-first order puts
    common elements late in every document, but each doc's prefix still
    overlaps any >= t partner's prefix)."""
    from spark_states_spark.functions.dedup import prefix_filter_pairs

    # 60 docs sharing a 12-element core (df = 60 for every core element)
    # plus 2 private elements each -> every pair: inter = 12, union = 16,
    # J = 0.75 >= 3/5, and the overlap is exclusively high-df elements.
    sets = {
        d: set(range(1000, 1012)) | {2000 + 2 * d, 2001 + 2 * d}
        for d in range(60)
    }
    rows = [(d, h) for d, hs in sets.items() for h in hs]
    tl = spark.createDataFrame(rows, "doc_id bigint, h bigint")
    got = {
        (r.doc_a, r.doc_b): r.n_inter
        for r in prefix_filter_pairs(tl).collect()
    }
    assert got == _brute_jaccard_pairs(sets)
    assert len(got) == 60 * 59 // 2  # every pair survives


def test_prefix_filter_join_matches_bruteforce_on_random_sets(spark):
    """Seeded-random differential: mixed-size sets drawn from a skewed
    vocabulary (some near-universal elements, a long rare tail) — the
    Spark kernel's pair set AND intersection counts equal the all-pairs
    reference exactly. Pins completeness + the three filters' soundness
    (length, prefix, positional) in one sweep."""
    import random

    from spark_states_spark.functions.dedup import prefix_filter_pairs

    rng = random.Random(1307)
    vocab_common = list(range(100))
    vocab_rare = list(range(100, 5000))
    sets = {}
    for d in range(120):
        base = rng.sample(vocab_common, rng.randint(5, 20)) + rng.sample(
            vocab_rare, rng.randint(0, 15)
        )
        sets[d] = set(base)
        # plant near-dup partners for ~1 in 4 docs: copy + small mutation
        if d >= 1 and rng.random() < 0.25:
            twin = set(sets[d - 1])
            for _ in range(rng.randint(0, 2)):
                if len(twin) > 3:
                    twin.discard(rng.choice(sorted(twin)))
                twin.add(rng.choice(vocab_rare))
            sets[d] = twin
    rows = [(d, h) for d, hs in sets.items() for h in hs]
    tl = spark.createDataFrame(rows, "doc_id bigint, h bigint")
    got = {
        (r.doc_a, r.doc_b): r.n_inter
        for r in prefix_filter_pairs(tl).collect()
    }
    assert got == _brute_jaccard_pairs(sets)


def test_prefix_filter_supersets_df_capped_sibling(spark, sf_dir):
    """On the fixture, the exact join's >= 3/5 pair set must contain every
    pair the recall-traded sibling reports at >= 3/5 — the sibling can
    only MISS pairs (df cap, support threshold), never find extras.

    PREMISE: this holds only while every fixture document's shingle set
    fits _SHINGLE_CAP — past the cap the sibling's jaccard is a bottom-k
    ESTIMATE that can over-score a pair above 3/5 whose true Jaccard is
    below it. The premise is asserted first so a fixture change fails
    loudly here instead of as a spurious superset miss."""
    from spark_states_spark.functions.dedup import (
        _SHINGLE_CAP,
        _exploded_shingle_hashes,
        dedup_prefix_filter_jaccard,
        spark_h60,
    )
    from spark_states_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    max_set = (
        _exploded_shingle_hashes(docs, spark_h60)
        .distinct()
        .groupBy("doc_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_set < _SHINGLE_CAP, (
        f"fixture breaks the capped == uncapped premise ({max_set})"
    )

    exact = {
        (r.doc_a, r.doc_b) for r in dedup_prefix_filter_jaccard(spark, sf_dir).collect()
    }
    sibling_high = {
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if r.jaccard >= 0.6
    }
    missed = sibling_high - exact
    assert not missed, f"exact join missed sibling-confirmed pairs: {missed}"


def test_prefix_filter_set_guard_fires_loudly(spark):
    """A document whose distinct-shingle set exceeds _PF_SET_GUARD must
    raise (both dialects carry the guard), never silently build the
    multi-MB verify arrays — the 1e9 pack-guard discipline."""
    import pytest as _pytest

    from spark_states_spark.functions.dedup import (
        _PF_SET_GUARD,
        prefix_filter_pairs,
    )

    tl = spark.range(_PF_SET_GUARD + 1).selectExpr(
        "CAST(0 AS BIGINT) AS doc_id", "id AS h"
    )
    with _pytest.raises(Exception, match="shingle set exceeds"):
        prefix_filter_pairs(tl).collect()


def test_embedding_pairs_memo_equals_unmemoized(spark, sf_dir):
    """r14: dedup_embedding_cosine / dedup_embedding_keep_first share one
    materialized pair stream (lifetime tag embedding_pairs). The memoized
    frame must be row-identical to a fresh, un-memoized run of the
    pipeline, and the
    keep_first derivation over the memo must equal the corpus minus the
    dropped ids computed from that same fresh stream."""
    from pyspark.sql import functions as F

    from spark_states_spark.catalog import QUERIES, clear_shared_memos
    from spark_states_spark.functions.similarity import (
        _build_embedding_pairs,
        _embedding_pairs,
    )
    from spark_states_spark.sources import load_table

    clear_shared_memos("dedup_embedding_cosine")
    try:
        memo_pairs = {
            tuple(r) for r in _embedding_pairs(spark, sf_dir).collect()
        }
        fresh = _build_embedding_pairs(spark, sf_dir)
        fresh_pairs = {tuple(r) for r in fresh.collect()}
        assert memo_pairs == fresh_pairs and memo_pairs

        got = {
            tuple(r)
            for r in QUERIES["dedup_embedding_keep_first"](
                spark, sf_dir
            ).collect()
        }
        dropped = {r[0] for r in fresh.select("vec_b").distinct().collect()}
        want = {
            (r.vec_id, r.label)
            for r in load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "label")
            .collect()
            if r.vec_id not in dropped
        }
        assert got == want
    finally:
        clear_shared_memos("dedup_embedding_cosine")


def test_minhash_pairs_memo_equals_unmemoized(spark, sf_dir):
    """r14: dedup_minhash_lsh_pairs / the CC cluster family share one
    materialized pair stream (lifetime tag minhash_pairs). The memoized frame
    must be row-identical to a fresh, un-memoized run of the pipeline,
    and the CC labels derived over the memo must equal labels computed
    from that same fresh stream."""
    from pyspark.sql import functions as F

    from spark_states_spark.catalog import QUERIES, clear_shared_memos
    from spark_states_spark.functions.dedup import (
        _CC_EST_THRESHOLD,
        _build_minhash_pairs,
        _minhash_pairs,
        connected_components,
    )

    clear_shared_memos("dedup_minhash_lsh_pairs")
    try:
        memo_pairs = {
            tuple(r) for r in _minhash_pairs(spark, sf_dir).collect()
        }
        fresh = _build_minhash_pairs(spark, sf_dir)
        fresh_pairs = {tuple(r) for r in fresh.collect()}
        assert memo_pairs == fresh_pairs and memo_pairs

        got = {
            tuple(r)
            for r in QUERIES["dedup_cluster_connected_components"](
                spark, sf_dir
            ).collect()
        }
        want_labels = connected_components(
            fresh.filter(F.col("est_jaccard") >= _CC_EST_THRESHOLD).select(
                "doc_a", "doc_b"
            )
        ).collect()
        sizes: dict = {}
        for r in want_labels:
            sizes[r.label] = sizes.get(r.label, 0) + 1
        want = {(r.doc_id, r.label, sizes[r.label]) for r in want_labels}
        assert want == got
    finally:
        clear_shared_memos("dedup_minhash_lsh_pairs")
        clear_shared_memos("dedup_cluster_connected_components")


def test_topk_memos_equal_unmemoized(spark, sf_dir):
    """r14: similarity_cosine_topk / similarity_lsh_ann each materialize
    their output once (lifetime tags topk_exact / topk_ann) and
    similarity_lsh_recall derives from both. Memoized frames must be
    row-identical to fresh runs, and recall over the memos must equal
    recall computed from the fresh frames."""
    from spark_states_spark.catalog import QUERIES, clear_shared_memos
    from spark_states_spark.functions.similarity import (
        _TOP_K,
        _ann_topk,
        _build_ann_topk,
        _build_exact_topk,
        _exact_topk,
    )

    clear_shared_memos("similarity_lsh_recall")
    try:
        for build, memo in (
            (_build_exact_topk, _exact_topk),
            (_build_ann_topk, _ann_topk),
        ):
            fresh = {tuple(r) for r in build(spark, sf_dir).collect()}
            got = {tuple(r) for r in memo(spark, sf_dir).collect()}
            assert fresh == got and fresh

        exact = {
            (r.query_id, r.vec_id)
            for r in _build_exact_topk(spark, sf_dir).collect()
        }
        ann = {
            (r.query_id, r.vec_id)
            for r in _build_ann_topk(spark, sf_dir).collect()
        }
        want = {}
        for q, v in exact:
            want.setdefault(q, 0)
            if (q, v) in ann:
                want[q] += 1
        got_recall = {
            (r.query_id, r.n_hits, r.recall_at_k)
            for r in QUERIES["similarity_lsh_recall"](spark, sf_dir).collect()
        }
        assert got_recall == {
            (q, n, n / _TOP_K) for q, n in want.items()
        }
    finally:
        clear_shared_memos("similarity_lsh_recall")
