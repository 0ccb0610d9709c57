"""LLM-data-pipeline operators (SURVEY §7 milestone 5): minhash-LSH
accuracy vs exact Jaccard, simhash hamming locality, LSH cosine recall vs
brute force, text analysis semantics, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.dedup import (
    char_shingles,
    estimated_jaccard,
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
    simhash,
    simhash_bands,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.multimodal import (
    FEATURE_DIM,
    decode_image,
    extract_features,
    media_repartition,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
    cosine_topk_bruteforce,
    lsh_cosine_topk,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
    predicted_lang_col,
    token_count_col,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    # append near-duplicates: same text with one word changed, ids +10000
    dup = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    exact = base.select((F.col("doc_id") + 20000).alias("doc_id"), "text")
    return base.select("doc_id", "text").union(dup).union(exact)


def test_exact_dedup_groups(spark, docs_with_dups):
    groups = exact_dedup_groups(docs_with_dups)
    dup_groups = groups.where(F.col("n_dups") > 1)
    assert dup_groups.count() == 50  # each base text + its id+20000 copy
    assert dup_groups.agg(F.max("n_dups")).first()[0] == 2
    # representative is the min id (deterministic)
    assert dup_groups.agg(F.max("keep_id")).first()[0] < 10000


def test_minhash_estimates_jaccard(spark, docs_with_dups):
    sigs = minhash_signatures(docs_with_dups, num_hashes=64)
    a = sigs.where(F.col("doc_id") < 10000).select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a")
    )
    b = sigs.where((F.col("doc_id") >= 10000) & (F.col("doc_id") < 20000)).select(
        (F.col("doc_id") - 10000).alias("id_a"), F.col("sig").alias("sig_b")
    )
    est = a.join(b, "id_a").select(estimated_jaccard().alias("est"))
    sh = docs_with_dups.select("doc_id", char_shingles().alias("sh"))
    sa = sh.where(F.col("doc_id") < 10000).select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.where((F.col("doc_id") >= 10000) & (F.col("doc_id") < 20000)).select(
        (F.col("doc_id") - 10000).alias("id_a"), F.col("sh").alias("sh_b")
    )
    exact = sa.join(sb, "id_a").select(ngram_jaccard().alias("exact"))
    est_avg = est.agg(F.avg("est")).first()[0]
    exact_avg = exact.agg(F.avg("exact")).first()[0]
    # near-dups: both high, estimate within 0.15 of exact on average
    assert exact_avg > 0.8
    assert abs(est_avg - exact_avg) < 0.15


def test_lsh_finds_near_dup_pairs(spark, docs_with_dups):
    sigs = minhash_signatures(docs_with_dups, num_hashes=64)
    pairs = lsh_candidate_pairs(sigs, bands=16, rows_per_band=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # every exact duplicate pair (jaccard 1.0) must be found
    for i in range(50):
        base_id = docs_with_dups.where(F.col("doc_id") < 10000).select("doc_id").collect()[i].doc_id
        assert (base_id, base_id + 20000) in got
    # near-dup pairs (1 word changed) should mostly be found
    near_found = sum(1 for (x, y) in got if y == x + 10000)
    assert near_found >= 40


def test_simhash_locality(spark, docs_with_dups):
    sigs = simhash(docs_with_dups)
    a = sigs.where(F.col("doc_id") < 10000).select(F.col("doc_id").alias("k"), F.col("simhash").alias("h_a"))
    b = sigs.where((F.col("doc_id") >= 10000) & (F.col("doc_id") < 20000)).select(
        (F.col("doc_id") - 10000).alias("k"), F.col("simhash").alias("h_b")
    )
    ham = a.join(b, "k").select(F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("d"))
    avg_near = ham.agg(F.avg("d")).first()[0]
    # random pairs for contrast
    rnd = a.alias("x").join(a.alias("y"), F.col("x.k") + 1 == F.col("y.k")).select(
        F.bit_count(F.col("x.h_a").bitwiseXOR(F.col("y.h_a"))).alias("d")
    )
    avg_rand = rnd.agg(F.avg("d")).first()[0]
    assert avg_near < avg_rand  # near-dups are closer in hamming space
    # exact copies hash identically
    c = sigs.where(F.col("doc_id") >= 20000).select((F.col("doc_id") - 20000).alias("k"), F.col("simhash").alias("h_c"))
    same = a.join(c, "k").where(F.col("h_a") == F.col("h_c")).count()
    assert same == 50


def test_simhash_bands_cover_hamming_neighbors(spark, docs_with_dups):
    sigs = simhash(docs_with_dups)
    banded = simhash_bands(sigs)
    # exact copies share all 4 chunks
    x = banded.where(F.col("doc_id") < 10000).alias("x")
    y = banded.where(F.col("doc_id") >= 20000).alias("y")
    shared = (
        x.join(
            y,
            (F.col("x.doc_id") + 20000 == F.col("y.doc_id"))
            & (F.col("x.chunk_id") == F.col("y.chunk_id"))
            & (F.col("x.chunk_val") == F.col("y.chunk_val")),
        ).count()
    )
    assert shared == 200  # 50 docs × 4 chunks


def test_lsh_cosine_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, queries, k=5)
    approx = lsh_cosine_topk(emb, queries, k=5, dim=64)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_lsh_topk_query_collect_is_guarded(spark):
    """r17 (r16 verdict task 3): the rerank's query-matrix collect is
    limit-bounded — a queries frame past max_query_rows fails fast
    with a diagnostic naming the knob, instead of collecting a
    corpus-sized frame onto the driver. The guard fires BEFORE the
    bucket-join pair set is materialized (fail fast = no corpus job)."""
    import pytest

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        lsh_cosine_topk(emb, emb, k=5, dim=64, max_query_rows=10)
    # at the boundary itself the collect proceeds (limit cap+1 admits
    # exactly cap rows)
    q = emb.where(F.col("vec_id") < 3)
    out = lsh_cosine_topk(emb, q, k=2, dim=64, max_query_rows=3)
    assert {r.query_id for r in out.collect()} <= {0, 1, 2}


def test_blocked_rerank_scores_one_row_per_query_candidate(spark):
    """The blocked rerank emits exactly n_candidates × n_queries score
    rows from the distinct-candidate input (each corpus vector crosses
    Arrow once, scored against the whole closure query matrix), and
    the cosines match a numpy reference bit-for-bit."""
    import numpy as np

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (  # noqa: E501
        _blocked_rerank_scores,
    )

    rng = [
        (i, [float((i * 13 + j * 5) % 17 - 8) for j in range(6)])
        for i in range(30)
    ]
    cand_vecs = spark.createDataFrame(
        rng, "neighbor_id long, c_vec array<double>"
    )
    Q = np.asarray(
        [[1.0, 0.0, 2.0, -1.0, 0.5, 3.0], [0.0, -2.0, 1.0, 4.0, 1.5, -0.5]]
    )
    out = _blocked_rerank_scores(cand_vecs, [100, 101], Q, "bigint")
    rows = {(r.query_id, r.neighbor_id): r.cos for r in out.collect()}
    assert len(rows) == 30 * 2
    C = np.asarray([v for _, v in rng])
    ref = (C @ Q.T) / (
        np.linalg.norm(C, axis=1)[:, None] * np.linalg.norm(Q, axis=1)[None, :]
    )
    for i in range(30):
        for qi, qid in enumerate((100, 101)):
            assert rows[(qid, i)] == ref[i, qi]


def test_vector_boundary_nan_is_a_value_null_raises(spark):
    """The one Arrow vector boundary's NULL/NaN policy on operators that
    need every vector: a NaN element is a value (``cosine_pairs_blas``
    gives NaN, exactly as ``COSINE_EXPR`` does, never SQL NULL), and a
    NULL vector raises one ValueError naming the operator and the
    column."""
    import math

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (  # noqa: E501
        COSINE_EXPR,
        cosine_pairs_blas,
        ivf_assign,
        kmeans_embeddings,
    )

    pairs = spark.createDataFrame(
        [(1, [float("nan"), 1.0], [1.0, 1.0]), (2, [1.0, 0.0], [2.0, 0.0])],
        "id long, q_vec array<double>, c_vec array<double>",
    )
    got = {
        r.id: (r.cos, r.expr)
        for r in cosine_pairs_blas(pairs)
        .withColumn("expr", F.expr(COSINE_EXPR.format(a="q_vec", b="c_vec")))
        .collect()
    }
    assert got[1][0] is not None and math.isnan(got[1][0]), got
    assert got[1][1] is not None and math.isnan(got[1][1]), got
    assert got[2] == (1.0, 1.0)

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    msg = r"column 'embedding' holds 1 NULL, NULL-element or wrong-length"
    with pytest.raises(Exception, match="ValueError: ivf_assign: " + msg):
        ivf_assign(vecs, np.eye(2)).collect()
    with pytest.raises(ValueError, match="kmeans_embeddings: " + msg):
        kmeans_embeddings(vecs, k=2, iters=1)


def test_zero_norm_cosine_is_null_on_every_path(spark):
    """An all-zeros vector has no cosine: ``cosine_pairs_blas`` gives
    SQL NULL exactly as ``COSINE_EXPR``'s ``nullif`` does, so the IVF
    rerank (scored by ``cosine_pairs_blas``) ranks it last like brute
    force, never as a 0.0 neighbour above negative cosines."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (  # noqa: E501
        COSINE_EXPR,
        cosine_pairs_blas,
        cosine_topk_quantized,
        ivf_cosine_topk,
    )

    one = spark.createDataFrame(
        [(1, [0.0, 0.0], [1.0, 1.0])],
        "id long, q_vec array<double>, c_vec array<double>",
    )
    row = (
        cosine_pairs_blas(one)
        .withColumn("expr", F.expr(COSINE_EXPR.format(a="q_vec", b="c_vec")))
        .collect()[0]
    )
    assert row.cos is None and row.expr is None, row

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [-1.0, 0.25]),
            (3, [-1.0, -0.5]),
            (4, [0.0, 0.0]),
            (5, [0.5, 0.5]),
        ],
        "vec_id long, embedding array<double>",
    )

    def ranked(df):
        return sorted(
            (r.query_id, r.rank, r.neighbor_id, r.cos)
            for r in df.select("query_id", "rank", "neighbor_id", "cos").collect()
        )

    brute = ranked(cosine_topk_bruteforce(corpus, corpus, k=4))
    ivf = ranked(ivf_cosine_topk(corpus, corpus, k=4, n_lists=1, n_probe=1))
    assert [r[:3] for r in ivf] == [r[:3] for r in brute]
    for (*_, a), (*_, b) in zip(ivf, brute):
        assert (a is None and b is None) or a == pytest.approx(b, abs=1e-12)
    # query 1's neighbours: the zero vector last, below both negatives,
    # on the int8 path too
    assert [r[2:] for r in brute if r[0] == 1][-1] == (4, None)
    quant = ranked(cosine_topk_quantized(corpus, corpus, k=4))
    assert [r[2] for r in quant if r[0] == 1] == [r[2] for r in brute if r[0] == 1]
    assert [r[3] for r in quant if r[0] == 1][-1] is None


def test_token_count_and_lang(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog, it was fine."), (2, "   "), (3, "el la de que y en un")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in df.select(
        "doc_id", token_count_col().alias("n"), predicted_lang_col().alias("lang")
    ).collect()}
    assert rows[1].n == 8
    assert rows[1].lang == "en"
    assert rows[2].n == 0
    assert rows[2].lang == "und"
    assert rows[3].lang == "es"


def test_multimodal_feature_extraction(spark):
    data = [(i, "image", "image/png", bytes([i] * (100 + i)), 10, 10, None) for i in range(20)]
    data.append((20, "image", "image/png", None, 10, 10, None))
    media = spark.createDataFrame(
        data, "media_id long, kind string, mime string, payload binary, width int, height int, duration_ms long"
    )
    media = media_repartition(media, target_bytes=500)
    feats = extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 21
    by_id = {r.media_id: r for r in rows}
    # a NULL payload gives NULL features and 0 bytes
    null_row = by_id.pop(20)
    assert null_row.features is None and null_row.n_bytes == 0
    assert all(len(r.features) == FEATURE_DIM for r in by_id.values())
    assert all(by_id[i].n_bytes == 100 + i for i in range(20))
    # determinism: same payload → same features
    again = {r.media_id: r.features for r in extract_features(media, fake=True).collect()}
    assert all(again[r.media_id] == r.features for r in rows)


def test_real_decode_png_and_non_png_gate():
    """fake=False: PNG payloads decode for REAL (stdlib codec in
    png.py); non-PNG formats still raise — the codec libs they need are
    absent from this container."""
    import numpy as np

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.png import (
        encode_png,
    )

    # A signature no stdlib codec owns (BMP) hits the honest gate ...
    with pytest.raises(NotImplementedError, match="non-PNG"):
        decode_image(b"BM bmp-ish bytes that no codec claims")
    # ... while a JPEG signature enters decode_jpeg for real and dies on
    # the malformed payload with the codec's own contract (jpeg.py).
    with pytest.raises(ValueError, match="malformed JPEG"):
        decode_image(b"\xff\xd8\xff\xe0 jpeg-ish bytes")

    rng = np.random.default_rng(3)
    png = encode_png(rng.integers(0, 256, size=(12, 8, 3), dtype=np.uint8))
    feats = decode_image(png)
    assert feats.shape == (FEATURE_DIM,)
    assert np.all(np.isfinite(feats))
    np.testing.assert_array_equal(feats, decode_image(png))  # deterministic


def test_extract_features_real_png_decode(spark):
    """End-to-end real decode through the mapInArrow plumbing:
    the feature vector for each media row must equal the local
    decode_image of the same payload (executor and driver run the same
    stdlib codec)."""
    import numpy as np

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.png import (
        encode_png,
    )

    rng = np.random.default_rng(11)
    payloads = {
        i: encode_png(
            rng.integers(0, 256, size=(8 + i, 6 + i, 3), dtype=np.uint8)
        )
        for i in range(6)
    }
    media = spark.createDataFrame(
        [(i, "image", "image/png", p, None, None, None) for i, p in payloads.items()],
        "media_id long, kind string, mime string, payload binary, width int, height int, duration_ms long",
    )
    rows = extract_features(media, fake=False).collect()
    assert len(rows) == 6
    for r in rows:
        expected = decode_image(payloads[r.media_id])
        np.testing.assert_allclose(r.features, expected, rtol=1e-6)
        assert r.n_bytes == len(payloads[r.media_id])


def test_extract_features_mixed_kinds_real_codecs(spark):
    """fake=False over a MIXED media frame: image rows take the PNG
    codec, audio rows the WAV codec, inside one mapInArrow pass —
    per-row dispatch on kind, verified against local decodes."""
    import io
    import wave as _wave

    import numpy as np

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.multimodal import (
        decode_audio,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.png import (
        encode_png,
    )

    rng = np.random.default_rng(5)
    png = encode_png(rng.integers(0, 256, size=(9, 9, 3), dtype=np.uint8))
    t = np.arange(8000) / 8000.0
    pcm = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(pcm.tobytes())
    wav = buf.getvalue()
    media = spark.createDataFrame(
        [
            (1, "image", "image/png", png, None, None, None),
            (2, "audio", "audio/wav", wav, None, None, None),
        ],
        "media_id long, kind string, mime string, payload binary, width int, height int, duration_ms long",
    )
    rows = {r.media_id: r for r in extract_features(media, fake=False).collect()}
    assert set(rows) == {1, 2}
    np.testing.assert_allclose(rows[1].features, decode_image(png), rtol=1e-6)
    np.testing.assert_allclose(rows[2].features, decode_audio(wav), rtol=1e-6)


def test_rolling_hash_fingerprint_normalization(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.dedup import (
        rolling_hash_fingerprint,
    )

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "  HELLO\tWORLD "), (4, "other text")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fp for r in df.select("doc_id", rolling_hash_fingerprint().alias("fp")).collect()}
    # case/whitespace-normalized equal texts → equal fingerprints
    assert fps[1] == fps[2] == fps[3]
    assert fps[4] != fps[1]
    assert all(0 <= v < 1_000_000_007 for v in fps.values())


def test_embedding_near_dup_pairs(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((20, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    rows.append((100, [float(x) for x in vecs[0]]))          # exact dup of 0
    rows.append((101, [float(x) for x in vecs[1] * 3.0]))     # scaled dup of 1 (cos=1)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r.id_a, r.id_b): r.cos for r in embedding_near_dup_pairs(df, threshold=0.99).collect()}
    assert set(pairs) == {(0, 100), (1, 101)}
    assert all(c > 0.999 for c in pairs.values())


def test_near_dup_auto_strategy_probe_is_cached(spark, monkeypatch):
    """strategy='auto' runs its bounded size probe once per distinct
    input plan: the second call with the same frame must plan WITHOUT
    re-running the probe (here the probe is poisoned to prove it)."""
    from pyspark.sql import DataFrame

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators import (
        similarity,
    )

    similarity._AUTO_STRATEGY_CACHE.clear()
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    first = similarity.embedding_near_dup_pairs(df, threshold=0.99)
    assert first.count() >= 0
    assert list(similarity._AUTO_STRATEGY_CACHE.values()) == ["broadcast"]

    def boom(self):
        raise AssertionError("size probe re-ran despite cache")

    monkeypatch.setattr(DataFrame, "count", boom)
    try:
        again = similarity.embedding_near_dup_pairs(df, threshold=0.99)
    finally:
        monkeypatch.undo()
    assert again.count() >= 0  # plan built from the cached decision
    # an explicitly passed strategy always bypasses probe AND cache
    similarity._AUTO_STRATEGY_CACHE.clear()
    blocked = similarity.embedding_near_dup_pairs(
        df, threshold=0.99, strategy="blocked"
    )
    assert blocked.count() >= 0
    assert similarity._AUTO_STRATEGY_CACHE == {}


def test_bpe_ish_token_count(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        bpe_ish_token_count,
    )

    df = spark.createDataFrame(
        [(1, "hello, world! 42x"), (2, ""), (3, "a.b.c")],
        "doc_id long, text string",
    )
    counts = {r.doc_id: r.n for r in df.select("doc_id", bpe_ish_token_count().alias("n")).collect()}
    # hello , world ! 42 x → 6; a . b . c → 5
    assert counts[1] == 6
    assert counts[2] == 0
    assert counts[3] == 5


def test_ivf_cosine_recall(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        ivf_cosine_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, queries, k=5)
    approx = ivf_cosine_topk(emb, queries, k=5, n_lists=16, n_probe=6)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # determinism: same session, same params -> same result
    again = {(r.query_id, r.neighbor_id)
             for r in ivf_cosine_topk(emb, queries, k=5, n_lists=16, n_probe=6).collect()}
    assert again == a


def test_multimodal_resize_and_frames(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.multimodal import (
        resize_images,
        sample_frames,
    )

    data = [
        (1, "image", "image/png", b"img-one", 100, 80, None),
        (2, "image", "image/png", b"img-two", 50, 40, None),
        (3, "video", "video/mp4", b"vid-one", None, None, 3500),
        (4, "video", "video/mp4", b"vid-two", None, None, 900),
        (5, "video", "video/mp4", None, None, None, 2000),
        (6, "image", "image/png", None, 10, 10, None),
        (7, "video", "video/mp4", b"vid-three", None, None, None),
    ]
    media = spark.createDataFrame(
        data, "media_id long, kind string, mime string, payload binary, width int, height int, duration_ms long"
    )
    resized = {r.media_id: r for r in resize_images(media.where("kind = 'image'"), 16, 16).collect()}
    assert set(resized) == {1, 2, 6}
    assert resized.pop(6).payload is None  # NULL payload stays NULL
    assert all(r.width == 16 and r.height == 16 for r in resized.values())
    assert all(len(r.payload) == 16 * 16 * 3 for r in resized.values())
    # deterministic and content-dependent
    again = {r.media_id: r.payload for r in resize_images(media.where("kind = 'image'"), 16, 16).collect()}
    assert again[1] == bytes(resized[1].payload) and again[1] != again[2]

    frames = sample_frames(media.where("kind = 'video'"), every_ms=1000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    assert set(by_id) == {3, 4}          # NULL payload/duration rows dropped
    assert len(by_id[3]) == 3            # 3500ms // 1000
    assert len(by_id[4]) == 1            # min 1 frame
    assert sorted(r.ts_ms for r in by_id[3]) == [0, 1000, 2000]
    # fake=False on NON-PNG payloads: the gate now fires per-payload in
    # the executor (PNG is really resized, so the plan can't refuse
    # eagerly) — Spark surfaces the NotImplementedError as a
    # PythonException whose message carries the original text
    import pytest as _pytest
    with _pytest.raises(Exception, match="non-PNG image resize"):
        resize_images(
            media.where("kind = 'image' AND payload IS NOT NULL"), 8, 8, fake=False
        ).collect()


def test_multimodal_resize_real_png(spark):
    """fake=False really resizes PNG payloads: output payloads are valid
    PNGs of the target dimensions whose pixels equal a local
    decode → nearest-resample of the input."""
    import numpy as np

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.multimodal import (
        resize_images,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.png import (
        decode_png,
        encode_png,
        resize_nearest,
    )

    rng = np.random.default_rng(23)
    originals = {
        i: rng.integers(0, 256, size=(20 + i, 30 - i, 3), dtype=np.uint8)
        for i in range(4)
    }
    media = spark.createDataFrame(
        [
            (i, "image", "image/png", encode_png(px), px.shape[1], px.shape[0], None)
            for i, px in originals.items()
        ],
        "media_id long, kind string, mime string, payload binary, width int, height int, duration_ms long",
    )
    out = {r.media_id: r for r in resize_images(media, 16, 12, fake=False).collect()}
    assert set(out) == set(originals)
    for i, px in originals.items():
        got = decode_png(bytes(out[i].payload))
        assert got.shape == (12, 16, 3)
        np.testing.assert_array_equal(got, resize_nearest(px, 16, 12))


def test_dedup_clusters_chain_transitivity(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.dedup import (
        dedup_clusters,
    )

    # two chained components {1,2,3,4} (path) and {10,11}, singleton edges only
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    out = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_on_real_near_dups(spark, docs_with_dups):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.dedup import (
        dedup_clusters,
    )

    sigs = minhash_signatures(docs_with_dups)
    pairs = lsh_candidate_pairs(sigs)
    clusters = dedup_clusters(pairs)
    # every exact-copy pair (id, id+20000) must share a cluster
    c = {r.id: r.cluster_id for r in clusters.collect()}
    for base in range(50):
        if base in c or base + 20000 in c:
            assert c.get(base) == c.get(base + 20000), base


def test_scrub_text_redacts_pii(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        scrub_text,
    )

    rows = [
        ("mail me at john.doe+spam@example.co.uk please", "mail me at <EMAIL> please"),
        ("see https://example.com/p/123456?q=1 now", "see <URL> now"),
        ("call +1 (555) 123-4567 today", "call <PHONE> today"),
        ("ssn-ish 123456789 digits", "ssn-ish <NUM> digits"),
        ("short num 12345 stays", "short num 12345 stays"),
        ("clean text stays clean", "clean text stays clean"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], ["text"])
    got = [r[0] for r in df.select(scrub_text("text")).collect()]
    assert got == [want for _, want in rows]


def test_repetition_signals(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        bigrams_col,
        repeated_token_ratio,
    )

    df = spark.createDataFrame(
        [("a b a b",), ("w x y z",), ("solo",)], ["text"]
    )
    out = df.select(
        repeated_token_ratio().alias("rep"), bigrams_col().alias("bg")
    ).collect()
    # "a b a b": 2 distinct of 4 tokens -> rep 0.5; bigrams a b, b a, a b
    assert out[0]["rep"] == pytest.approx(0.5)
    assert out[0]["bg"] == ["a b", "b a", "a b"]
    # all-distinct text: rep 0, 3 bigrams
    assert out[1]["rep"] == pytest.approx(0.0)
    assert out[1]["bg"] == ["w x", "x y", "y z"]
    # single token: no bigrams
    assert out[2]["bg"] == []


def test_chunk_tokens_udtf(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.udtfs import (
        register_udtfs,
    )

    register_udtfs(spark)
    spark.createDataFrame(
        [("one two three four five six",), ("solo",), ("",)], ["text"]
    ).createOrReplaceTempView("chunk_in")
    rows = spark.sql(
        "SELECT text, chunk_idx, chunk, n_tokens "
        "FROM chunk_in, LATERAL chunk_tokens(text, 4, 2) ORDER BY text, chunk_idx"
    ).collect()
    got = [(r.chunk_idx, r.chunk, r.n_tokens) for r in rows]
    # "" -> no chunks; 6 tokens, size 4, stride 2 -> windows at 0,2,4
    assert got == [
        (0, "one two three four", 4),
        (1, "three four five six", 4),
        (2, "five six", 2),
        (0, "solo", 1),
    ]


def test_quantized_topk_recall(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        cosine_topk_quantized,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = quantize_embeddings(emb).select("vec_id", "qvec").limit(5).collect()
    for r in q:  # int8 range respected, zero vector impossible in fixture
        assert all(-127 <= v <= 127 for v in r.qvec)

    queries = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(
        emb.withColumn("embedding", F.col("embedding").cast("array<double>")),
        queries.withColumn("embedding", F.col("embedding").cast("array<double>")),
        k=5,
    )
    quant = cosine_topk_quantized(emb, queries, k=5)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    quant_set = {(r.query_id, r.neighbor_id) for r in quant.collect()}
    recall = len(exact_set & quant_set) / len(exact_set)
    # int8 rounding on 32-d near-orthogonal vectors: top-5 stays >=80%
    assert recall >= 0.8, recall


def test_near_dup_blocked_finds_planted_dups(spark):
    """The LSH-blocked near-dup path (no full-corpus collect) must find
    exact and scaled duplicates (cos=1 pairs collide in every table),
    verify candidates with true cosine, and reach the recall floor vs
    the exact broadcast baseline on the fixture corpus."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((20, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    rows.append((100, [float(x) for x in vecs[0]]))          # exact dup of 0
    rows.append((101, [float(x) for x in vecs[1] * 3.0]))    # scaled dup of 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_near_dup_pairs(
            df, threshold=0.99, strategy="blocked", dim=16
        ).collect()
    }
    assert set(got) == {(0, 100), (1, 101)}
    assert all(c > 0.999 for c in got.values())


def test_near_dup_blocked_recall_vs_exact(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.35).collect()
    }
    blocked = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            emb, threshold=0.35, strategy="blocked", dim=64
        ).collect()
    }
    assert blocked <= exact                       # precision 1.0
    if exact:
        recall = len(blocked & exact) / len(exact)
        assert recall >= 0.7, f"blocked near-dup recall too low: {recall}"


def test_near_dup_auto_strategy_switches_on_corpus_size(spark):
    """auto = broadcast (exact) under the row threshold, blocked above
    it. Below: auto output equals the exact pair set. Above (forced by
    a tiny threshold): auto output is the blocked path — a subset of
    exact with the planted cos=1 dups always found."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((20, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    rows.append((100, [float(x) for x in vecs[0]]))  # exact dup of 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(df, 0.9, strategy="broadcast").collect()
    }
    small = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(df, 0.9, strategy="auto").collect()
    }
    assert small == exact  # 21 rows <= default threshold -> exact path
    big = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, 0.9, strategy="auto", broadcast_max_rows=5, dim=16
        ).collect()
    }
    assert big <= exact  # over threshold -> blocked (verified) path
    assert (0, 100) in big  # cos=1 collides in every table


def test_keep_representatives_drops_all_but_min_id(spark):
    """Corpus-dedup end product: min-id per cluster kept, unclustered
    docs untouched, drop count = members - clusters."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.dedup import (
        keep_representatives,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    clusters = spark.createDataFrame(
        # {1,3,5} and {2,6}; 0,4,7 unclustered
        [(1, 1), (3, 1), (5, 1), (2, 2), (6, 2)], "id long, cluster_id long"
    )
    kept = sorted(r.doc_id for r in keep_representatives(docs, clusters).collect())
    assert kept == [0, 1, 2, 4, 7]


def test_near_dup_rejects_unknown_strategy(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="strategy"):
        embedding_near_dup_pairs(df, 0.5, strategy="bogus")


def test_raw_ngrams_short_docs_ansi_safe(spark):
    """Docs with < n tokens must yield an EMPTY n-gram array, not an
    ANSI INVALID_ARRAY_INDEX: sequence(0, size-n) is descending for
    short docs and the old guard indexed toks[-1]."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        raw_ngrams_col,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three"),
         (5, "a b c d")],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select("doc_id", raw_ngrams_col("toks", 3).alias("tgs"))
    got = {r.doc_id: r.tgs for r in out.collect()}
    assert got == {
        1: [], 2: [], 3: [],
        4: ["one two three"],
        5: ["a b c", "b c d"],
    }


def test_contamination_screen_probe_table(spark):
    """Probe-table screen: exact hit counts on a crafted corpus,
    short docs included (must not throw under ANSI)."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        contamination_screen,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # hits: 2 probe trigrams
            (2, "quick brown fox"),             # hits: 1
            (3, "totally clean document here"), # no hits
            (4, "ok"),                          # short doc: no trigrams
            (5, "quick brown fox quick brown fox x"),  # repeats: still 1 distinct
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [("the quick brown",), ("quick brown fox",), ("never present here",)],
        "ngram string",
    )
    out = contamination_screen(docs, probes)
    got = {r.doc_id: r.n_probe_hits for r in out.collect()}
    assert got == {1: 2, 2: 1, 5: 1}


def test_pack_sequences_offset_bin_packing(spark):
    """Exact pack assignment on a crafted corpus: per-shard preceding
    cumsum over doc_id order, floor-divided by the budget; oversized
    docs overflow their pack but still get exactly one pack id."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [
            # shard a: tokens 6,4,3 with budget 8 → cum_before 0,6,10
            (1, "a", "t1 t2 t3 t4 t5 t6"),
            (2, "a", "t1 t2 t3 t4"),
            (3, "a", "t1 t2 t3"),
            # shard b: one oversized doc (10 > 8) then a small one
            (4, "b", "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
            (5, "b", "t1"),
        ],
        "doc_id long, source string, text string",
    )
    out = pack_sequences(docs, budget_tokens=8)
    got = {r.doc_id: (r.shard, r.n_tokens, r.pack_id) for r in out.collect()}
    assert got == {
        1: ("a", 6, 0),
        2: ("a", 4, 0),   # cum_before 6 < 8
        3: ("a", 3, 1),   # cum_before 10 → pack 1
        4: ("b", 10, 0),  # oversized: one pack id, overflows boundary
        5: ("b", 1, 1),   # cum_before 10 → pack 1
    }


def test_holdout_split_content_addressed(spark):
    """Byte-equal duplicates always share a split; assignment is stable
    under repartitioning; realized fractions are in the right ballpark."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        holdout_split_col,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = docs.select("doc_id", "text", holdout_split_col().alias("split"))
    # duplicates share a split: every distinct text maps to ONE split
    multi = (
        out.groupBy("text")
        .agg(F.count_distinct("split").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert multi == 0
    # stable under repartitioning
    a = {r.doc_id: r.split for r in out.collect()}
    b = {
        r.doc_id: r.split
        for r in docs.repartition(17)
        .select("doc_id", holdout_split_col().alias("split"))
        .collect()
    }
    assert a == b
    # rough proportions (md5 buckets over 500 docs: generous tolerance)
    frac = {
        r.split: r.n / 500
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert 0.6 < frac.get("train", 0) < 0.95
    assert 0.02 < frac.get("val", 0) < 0.2
    assert 0.02 < frac.get("test", 0) < 0.2


def test_token_budget_sample_exact(spark):
    """Exact keep-set on a crafted corpus: docs kept whole, in doc_id
    order, until the shard's token budget; last kept doc may overflow."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        token_budget_sample,
    )

    docs = spark.createDataFrame(
        [
            (1, "a", "t1 t2 t3 t4"),          # cum_before 0 → keep
            (2, "a", "t1 t2 t3 t4 t5 t6"),    # cum_before 4 → keep (overflows)
            (3, "a", "t1"),                   # cum_before 10 ≥ 8 → drop
            (4, "b", "t1 t2"),                # keep
            (5, "b", "t1 t2 t3 t4 t5 t6 t7"), # cum_before 2 → keep
        ],
        "doc_id long, source string, text string",
    )
    kept = token_budget_sample(docs, budget_tokens=8)
    assert {r.doc_id for r in kept.collect()} == {1, 2, 4, 5}


def test_fingerprint_store_incremental_dedup(spark):
    """Incremental dedup across batches: batch 2 drops texts already
    admitted by batch 1 (and within-batch duplicates), the store append
    preserves bucketing, and the seen-check never shuffles the store
    side (bucket-local or broadcast-probe plan)."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.dedup import (
        FingerprintStore,
    )

    spark.sql("DROP TABLE IF EXISTS fp_store_test")
    store = FingerprintStore(spark, "fp_store_test", n_buckets=4)
    try:
        b1 = spark.createDataFrame(
            [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
            "doc_id long, text string",
        )
        fresh1 = store.screen(b1)
        assert {r.doc_id for r in fresh1.collect()} == {1, 2}  # 3 is a within-batch dup
        store.commit(fresh1)

        b2 = spark.createDataFrame(
            [(10, "alpha text"),   # seen in batch 1
             (11, "gamma text"),   # new
             (12, "gamma text")],  # within-batch dup
            "doc_id long, text string",
        )
        fresh2 = store.screen(b2)
        assert {r.doc_id for r in fresh2.collect()} == {11}
        store.commit(fresh2)
        assert spark.table("fp_store_test").count() == 3  # alpha, beta, gamma

        # replaying batch 2 admits nothing (idempotent corpus build)
        assert store.screen(b2).count() == 0

        # plan (at-scale shape: broadcast off): the store scan must hang
        # off the anti-join with NO Exchange between them — the bucketed
        # layout means only the probe side shuffles
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (
                store.screen(b2)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
        lines = plan.splitlines()

        def depth(line: str) -> int:
            body = line.lstrip(" :+-")
            return (len(line) - len(body)) // 3

        scan_i = next(
            i for i, l in enumerate(lines)
            if "fp_store_test" in l and "Scan" in l
        )
        # walk the parent chain: nearest shallower line each step
        d = depth(lines[scan_i])
        chain = []
        for i in range(scan_i - 1, -1, -1):
            if depth(lines[i]) < d:
                chain.append(lines[i])
                d = depth(lines[i])
                if "Join" in lines[i]:
                    break
        assert any("Join" in l for l in chain), plan
        assert not any("Exchange" in l for l in chain), (
            "store side reshuffled:\n" + plan
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_store_test")


def test_ansi_zero_guards(spark):
    """Empty text and zero-norm embeddings must yield NULL signals, not
    ANSI DIVIDE_BY_ZERO job kills (at 100 TB both inputs are certain)."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        COSINE_EXPR,
        cosine_topk_bruteforce,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        repeated_token_ratio,
    )

    txt = spark.createDataFrame(
        [(1, ""), (2, "a a b")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.ratio
        for r in txt.select(
            "doc_id", repeated_token_ratio().alias("ratio")
        ).collect()
    }
    assert got[1] is None
    assert abs(got[2] - (1 - 2 / 3)) < 1e-9

    vecs = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    pair = vecs.selectExpr("embedding AS a").crossJoin(
        vecs.selectExpr("embedding AS b")
    )
    cos = pair.selectExpr(f"{COSINE_EXPR.format(a='a', b='b')} AS c")
    vals = [r.c for r in cos.collect()]  # must not throw
    assert any(v is None for v in vals)  # zero-norm rows -> null
    # topk over a corpus containing the zero vector: the null-cos pair
    # must rank BELOW every real neighbor (desc ordering puts nulls
    # last), so the genuine neighbor holds rank 1
    out = cosine_topk_bruteforce(vecs, vecs.where("vec_id = 2"), k=2)
    ranks = {r.neighbor_id: r.rank for r in out.collect()}
    assert ranks.get(3) == 1, ranks
    assert ranks.get(1, 99) > ranks[3], ranks


def test_bpe_pair_counts_weighted_exact(spark):
    """Pair counts weight by word frequency, count within-word repeats,
    and skip single-char words entirely."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        bpe_pair_counts,
    )

    docs = spark.createDataFrame(
        [
            (0, "aba aba x"),   # 'aba' twice here
            (1, "aba bb x y"),  # once more → wc(aba)=3
        ],
        "doc_id long, text string",
    )
    out = {r["pair"]: (r["n_occ"], r["n_words"]) for r in bpe_pair_counts(docs).collect()}
    # 'aba' (wc=3) contributes ab+ba per occurrence; 'bb' (wc=1) → bb.
    assert out["ab"] == (3, 1)
    assert out["ba"] == (3, 1)
    assert out["bb"] == (1, 1)
    # single-char words ('x' wc=2, 'y' wc=1) produce no pairs at all
    assert set(out) == {"ab", "ba", "bb"}


def test_duplicated_spans_cross_doc_only(spark):
    """A window repeated WITHIN one doc does not qualify; the same
    window across two docs does, with within-doc multiplicity counted."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        duplicated_spans,
    )

    boiler = "this license text is repeated verbatim everywhere"  # 7 tokens
    docs = spark.createDataFrame(
        [
            (0, f"{boiler} unique tail zero"),
            (1, f"prefix one {boiler} and something else"),
            (2, "solo doc repeat repeat repeat repeat repeat repeat repeat repeat"),
        ],
        "doc_id long, text string",
    )
    out = duplicated_spans(docs, n=7).collect()
    spans = {r["span"]: (r["n_docs"], r["n_occ"]) for r in out}
    assert boiler in spans and spans[boiler] == (2, 2)
    # doc 2's within-doc repeated 7-gram never reaches n_docs >= 2
    assert all(r["n_docs"] >= 2 for r in out)
    assert not any("repeat repeat" in s for s in spans)


def test_tfidf_top_terms_rank_and_ties(spark):
    """Doc-frequent terms rank below doc-specific ones; ties break by
    term; df spans the full corpus."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [
            (0, "common zebra zebra apple"),
            (1, "common apple"),
            (2, "common banana"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=2)
    rows = {(r["doc_id"], r["rank"]): r for r in out.collect()}
    # doc 0: zebra tf=2 df=1 → 2.0 beats apple (1/2) and common (1/3)
    assert rows[(0, 1)]["term"] == "zebra" and rows[(0, 1)]["score"] == 2.0
    assert rows[(0, 2)]["term"] == "apple" and rows[(0, 2)]["score"] == 0.5
    # doc 2: banana (1/1) then common (1/3); df counts all three docs
    assert rows[(2, 1)]["term"] == "banana"
    assert rows[(2, 2)]["term"] == "common" and rows[(2, 2)]["df"] == 3


def test_kmeans_recovers_separated_clusters(spark):
    """On well-separated blobs: monotone inertia, every point assigned,
    and blob members never split across clusters."""
    import numpy as np

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        kmeans_embeddings,
    )

    rng = np.random.default_rng(7)
    centers = np.array([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    rows = []
    for i in range(90):
        blob = i % 3
        v = centers[blob] + rng.normal(scale=0.1, size=4)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assignments, cent, history = kmeans_embeddings(emb, k=3, iters=4, init_sample=90)
    got = assignments.collect()
    assert len(got) == 90
    assert all(0 <= r["cluster"] < 3 for r in got)
    for a, b in zip(history, history[1:]):
        assert b <= a * (1 + 1e-9) + 1e-9
    # blob → one cluster each, all three clusters used
    blob_to_cluster = {}
    for r in got:
        blob = r["vec_id"] % 3
        blob_to_cluster.setdefault(blob, set()).add(r["cluster"])
    assert all(len(cs) == 1 for cs in blob_to_cluster.values())
    assert len({next(iter(cs)) for cs in blob_to_cluster.values()}) == 3
    # converged inertia ≈ within-blob noise only (scale 0.1 → tiny)
    assert history[-1] < 10.0


def test_kmeans_direct_merge_matches_groupby_reduce(spark, monkeypatch):
    """r17: the per-iteration stats reduce has two paths — the bounded
    direct driver merge (k·n_parts under the valve) and the k-key
    groupBy fallback (cluster-scale partition counts). Both must yield
    the same fit: identical assignments and centroids, inertia history
    equal to float noise (the two paths merge the same per-partition
    partials, only the merge ORDER differs — at one partition per this
    data size even that is identical)."""
    import numpy as np

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators import (
        similarity as S,
    )

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=6)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    a_asg, a_cent, a_hist = S.kmeans_embeddings(
        emb, k=4, iters=3, init_sample=200
    )
    direct = {r["vec_id"]: (r["cluster"], r["dist2"]) for r in a_asg.collect()}

    monkeypatch.setattr(S, "_KMEANS_DIRECT_MERGE_MAX_ROWS", 0)
    b_asg, b_cent, b_hist = S.kmeans_embeddings(
        emb, k=4, iters=3, init_sample=200
    )
    grouped = {r["vec_id"]: (r["cluster"], r["dist2"]) for r in b_asg.collect()}

    assert direct == grouped
    np.testing.assert_allclose(a_cent, b_cent, rtol=0, atol=1e-12)
    assert len(a_hist) == len(b_hist) == 3
    np.testing.assert_allclose(a_hist, b_hist, rtol=1e-12)


def test_pq_topk_recall_and_compression(spark):
    """PQ-with-rerank beats the recall floor on the real embeddings
    table; codes are m small ints (the 32× index compression)."""
    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        cosine_topk_bruteforce,
        pq_cosine_topk,
        pq_encode,
        pq_train_codebooks,
    )
    import numpy as np

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    q = emb.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in pq_cosine_topk(emb, q, k=5, m=16, ks=16, shortlist=60).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.6
    # encoding shape: one int code per subspace, all within [0, ks)
    sample = np.stack(
        [np.asarray(r["embedding"]) for r in emb.limit(256).collect()]
    )
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    cb = pq_train_codebooks(sample, m=16, ks=16)
    assert cb.shape == (16, 16, 4)
    codes = pq_encode(emb, cb).collect()
    assert all(len(r["codes"]) == 16 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["codes"])
    # determinism: training twice on the same sample is bit-identical
    assert (pq_train_codebooks(sample, m=16, ks=16) == cb).all()


def test_linear_quality_logit_decision(spark):
    """The classifier keeps stopword-rich prose and drops punctuation
    soup; the logit is a plain column (scan-stage, no shuffle)."""
    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        linear_quality_logit,
    )

    prose = "the cat and the dog ran to the house and it was for the best " * 8
    noise = "!!! ??? ;;; ### $$$ %%% @@@ &&& *** ((( ))) ^^^"
    docs = spark.createDataFrame(
        [(0, prose), (1, noise)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["logit"]
        for r in docs.select(
            "doc_id", linear_quality_logit().alias("logit")
        ).collect()
    }
    assert out[0] > 0, out
    assert out[1] < 0, out


def test_chunk_documents_bounds_and_overlap(spark):
    """10 tokens, chunk 4, overlap 1 (stride 3) → 4 chunks at starts
    0/3/6/9; consecutive chunks share exactly `overlap` tokens, every
    token is covered, the final chunk is short, empty docs vanish."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        chunk_documents,
    )

    text = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(0, text), (1, ""), (2, None)], "doc_id long, text string"
    )
    rows = (
        chunk_documents(docs, chunk_tokens=4, overlap=1)
        .orderBy("doc_id", "chunk_id")
        .collect()
    )
    assert [r["doc_id"] for r in rows] == [0, 0, 0, 0]
    assert [r["chunk_start"] for r in rows] == [0, 3, 6, 9]
    assert [r["n_chunk_tokens"] for r in rows] == [4, 4, 4, 1]
    chunks = [r["chunk_text"].split(" ") for r in rows]
    assert chunks[0] == ["t0", "t1", "t2", "t3"]
    assert chunks[-1] == ["t9"]
    for prev, cur in zip(chunks, chunks[1:]):
        assert prev[-1:] == cur[:1]  # overlap = 1 token
    covered = {t for c in chunks for t in c}
    assert covered == {f"t{i}" for i in range(10)}


def test_chunk_documents_zero_overlap_reconstructs(spark):
    """With overlap 0 the chunks partition the token stream: re-joining
    them in chunk order rebuilds the normalized document exactly."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        chunk_documents,
        tokens_col,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    rebuilt = (
        chunk_documents(docs, chunk_tokens=7, overlap=0)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "chunk_text"))
                    ),
                    lambda s: s.chunk_text,
                ),
                " ",
            ).alias("rebuilt")
        )
    )
    norm = docs.select(
        "doc_id", F.array_join(tokens_col(), " ").alias("norm")
    )
    diff = rebuilt.join(norm, "doc_id").where(
        F.col("rebuilt") != F.col("norm")
    )
    assert diff.count() == 0


def test_chunk_documents_rejects_bad_overlap(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        chunk_documents,
    )

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_chunk_documents_plan_has_no_exchange(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        chunk_documents,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_gopher_rules_each_rule_fires_on_its_own_violation(spark):
    """Every Gopher rule trips on a document constructed to violate
    exactly that rule (plus word-count where unavoidable), and a
    prose document passes all of them. Integer cross-multiplication
    thresholds — assertions are exact, no float tolerance."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        gopher_quality_flags,
    )

    prose = "the cat and the dog ran to the house and it was for the best " * 5
    rows = [
        (0, prose),  # passes everything
        (1, "the of " + "w " * 10),  # word count < 50
        (2, "aa " * 30 + "the of " + "bb " * 30),  # mean word len < 3
        (3, ("supercalifragilisticexpialidocious " * 60) + "the of"),  # len>10
        (4, "# " * 30 + "the of " + "word " * 40),  # symbol ratio
        (5, "\n".join("- bullet item here now" for _ in range(20))
            + "\nthe of " + "w " * 20),  # >90% bullet lines
        (6, "\n".join("trailing off..." for _ in range(10))
            + "\n" + "the of " + "w " * 60),  # >30% ellipsis lines
        (7, "1234 5678 " * 40 + "the of"),  # alpha-word frac < 0.8
        (8, "word " * 80),  # no stopwords
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    flags = gopher_quality_flags()
    out = {
        r["doc_id"]: r.asDict()
        for r in docs.select(
            "doc_id", *[v.alias(k) for k, v in flags.items()]
        ).collect()
    }
    assert out[0]["gopher_pass"] and not any(
        v for k, v in out[0].items() if k.startswith("fail_")
    ), out[0]
    expected_fail = {
        1: "fail_word_count",
        2: "fail_mean_word_len",
        3: "fail_mean_word_len",
        4: "fail_symbol_ratio",
        5: "fail_bullet_lines",
        6: "fail_ellipsis_lines",
        7: "fail_alpha_words",
        8: "fail_stopwords",
    }
    for doc_id, rule in expected_fail.items():
        assert out[doc_id][rule], (doc_id, rule, out[doc_id])
        assert not out[doc_id]["gopher_pass"], (doc_id, out[doc_id])


def test_gopher_rules_match_duckdb_on_adversarial_text(spark):
    """Engine parity on inputs the sf corpus never produces (newlines,
    unicode bullets/ellipses, numeric words, empty text): the DuckDB
    replay of the oracle's feature SQL reaches identical per-document
    rule decisions — the (?m) anchors, \\S classes and integer
    thresholds behave the same under Java regex and RE2."""
    import duckdb

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        gopher_quality_flags,
    )

    rows = [
        (1, "the cat and dog " * 20),
        (2, ""),
        (3, "- a\n- b\n- c\nthe end of it " + "w " * 50),
        (4, "w… …\nmore… \nthe of it was " + "z " * 55),
        (5, "• b\n‣ c\n▪ d\n* e\n- f\nthe of " + "x " * 50),
        (6, "12345 678 " * 40 + "the of"),
        (7, "ends... mid... " * 10 + "\nthe of it " + "y " * 50),
    ]
    flags = gopher_quality_flags()
    names = [k for k in flags if k.startswith("fail_")] + ["gopher_pass"]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: tuple(bool(r[n]) for n in names)
        for r in docs.select(
            "doc_id", *[flags[n].alias(n) for n in names]
        ).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    stop_sql = " + ".join(
        f"(CASE WHEN strpos(padded, ' {w} ') > 0 THEN 1 ELSE 0 END)"
        for w in ["the", "and", "of", "to", "is", "in",
                  "that", "it", "was", "for"]
    )
    duck = con.execute(rf"""
        WITH feats AS (
          SELECT doc_id,
            len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                            t -> t <> '')) AS n_words,
            length(regexp_replace(trim(text), '\s+', '', 'g')) AS word_chars,
            len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols,
            len(string_split(text, chr(10))) AS n_lines,
            len(regexp_extract_all(text, '(?m)^[ \t]*[-*' || chr(8226)
                || chr(8227) || chr(9642) || ']')) AS n_bullet,
            len(regexp_extract_all(text, '(?m)(\.\.\.|' || chr(8230)
                || ')[ \t]*$')) AS n_ellipsis,
            len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS n_alpha,
            (' ' || replace(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                            ' ', '  ') || ' ') AS padded
          FROM documents)
        SELECT doc_id,
          (n_words < 50 OR n_words > 100000) AS f_wc,
          (word_chars < 3 * n_words OR word_chars > 10 * n_words) AS f_mwl,
          (10 * n_symbols > n_words) AS f_sym,
          (10 * n_bullet > 9 * n_lines) AS f_bul,
          (10 * n_ellipsis > 3 * n_lines) AS f_ell,
          (5 * n_alpha < 4 * n_words) AS f_alpha,
          ({stop_sql}) < 2 AS f_stop
        FROM feats ORDER BY doc_id
    """).fetchall()
    for row in duck:
        doc_id, fails = row[0], [bool(v) for v in row[1:]]
        want = tuple(fails + [not any(fails)])
        assert got[doc_id] == want, (doc_id, got[doc_id], want)


def test_prefix_duplicate_groups_truncation(spark):
    """A truncated copy shares the 16-token prefix (min < max tokens);
    short docs and unique prefixes never appear."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.dedup import (
        prefix_duplicate_groups,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    truncated = " ".join(f"tok{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, truncated),
            (2, " ".join(f"other{i}" for i in range(25))),
            (3, "way too short"),
        ],
        "doc_id long, text string",
    )
    out = prefix_duplicate_groups(docs, n_prefix=16).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2
    assert (out[0]["min_tokens"], out[0]["max_tokens"]) == (20, 30)


def test_semantic_dedup_drops_planted_near_dups(spark):
    """SemDeDup on planted duplicates: clusters block, within-cluster
    pairs are exact, each dup group keeps exactly its min id; recall vs
    the global exact baseline is measured (cluster-boundary misses are
    the documented approximation)."""
    import numpy as np
    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        embedding_near_dup_pairs,
        semantic_dedup,
    )

    rng = np.random.default_rng(11)
    rows = []
    # 120 base vectors in 3 well-separated blobs + 30 planted near-dups
    centers = np.array([[8.0, 0, 0, 0], [0, 8.0, 0, 0], [0, 0, 8.0, 0]])
    for i in range(120):
        v = centers[i % 3] + rng.normal(scale=1.0, size=4)
        rows.append((i, [float(x) for x in v]))
    for j in range(30):  # near-dup of base j: tiny perturbation
        v = np.asarray(rows[j][1]) + rng.normal(scale=0.01, size=4)
        rows.append((1000 + j, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kept, pairs, _clusters = semantic_dedup(emb, threshold=0.995, k=3, iters=3)
    kept_ids = {r["vec_id"] for r in kept.collect()}
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.995, strategy="broadcast"
        ).collect()
    }
    assert got_pairs <= exact  # precision 1.0: blocking never invents pairs
    recall = len(got_pairs & exact) / len(exact)
    assert recall >= 0.9, recall  # tight dups co-cluster almost surely
    # every planted dup pair that was found drops its max-id member
    for a, b in got_pairs:
        assert min(a, b) in kept_ids or any(
            min(a, b) in p for p in got_pairs
        )
        assert not (a in kept_ids and b in kept_ids)
    # exact count: kept = N − (members − components) over the pair graph
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in got_pairs:
        parent[find(a)] = find(b)
    members = {x for p in got_pairs for x in p}
    components = {find(x) for x in members}
    assert len(kept_ids) == 150 - (len(members) - len(components))


def test_semantic_dedup_skips_oversized_clusters(spark):
    """The max_cluster_size valve drops a too-big cluster from pairing
    instead of densifying it."""
    import numpy as np

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in rng.normal(size=4)]) for i in range(40)
    ]
    rows += [(100 + i, list(map(float, np.asarray(rows[i][1]) * 1.0001))) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept, pairs, _clusters = semantic_dedup(
        emb, threshold=0.999, k=1, iters=1, max_cluster_size=10
    )
    # the single cluster holds all 45 rows > 10 → no pairs, nothing dropped
    assert pairs.count() == 0
    assert kept.count() == 45


def test_bpe_learn_and_encode(spark):
    """Learned merges reflect corpus frequency; encoding applies them in
    rank order with exact reconstruction."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        bpe_encode_words,
        learn_bpe_merges,
    )

    docs = spark.createDataFrame(
        [
            (0, "lowlow lowlow lowest lower low"),
            (1, "lowlow newest newest widest lowest"),
            (2, None),  # a NULL text adds no word
        ],
        "doc_id long, text string",
    )
    merges = learn_bpe_merges(docs, n_merges=3)
    # 'lo'+'ow-ish' dominates: the first merge must involve l/o/w chars
    assert merges[0] in {("l", "o"), ("o", "w"), ("lo", "w"), ("l", "ow")}
    enc = {r["word"]: r["pieces"] for r in bpe_encode_words(docs, merges).collect()}
    for w, pieces in enc.items():
        assert "".join(pieces) == w
        assert 1 <= len(pieces) <= len(w)
    # with enough merges the most frequent word collapses to one piece
    merges_full = learn_bpe_merges(docs, n_merges=30)
    enc_full = {
        r["word"]: r["pieces"]
        for r in bpe_encode_words(docs, merges_full).collect()
    }
    assert enc_full["lowlow"] == ["lowlow"]
    # no merges → every word splits to characters
    enc_none = {
        r["word"]: r["pieces"] for r in bpe_encode_words(docs, []).collect()
    }
    assert enc_none["low"] == ["l", "o", "w"]


def test_dup_span_fraction_cross_doc_only(spark):
    """Within-doc repetition does not count as duplicated content;
    cross-doc shared windows do, with the >50% flag exact."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans.catalog import (
        q_llm_dup_span_fraction,
    )
    import os
    import tempfile

    boiler = " ".join(f"b{i}" for i in range(12))  # 12 tokens → 5 windows of 8
    docs = spark.createDataFrame(
        [
            (0, boiler, "x", "web"),                      # fully shared with doc 1
            (1, boiler + " unique tail here now", "x", "web"),
            (2, ("rep " * 40).strip(), "x", "books"),     # within-doc repeats only
        ],
        "doc_id long, text string, lang string, source string",
    )
    with tempfile.TemporaryDirectory() as tmp:
        docs.withColumn("n_chars", F.length("text")).write.parquet(
            os.path.join(tmp, "documents.parquet")
        )
        out = {r["source"]: r for r in q_llm_dup_span_fraction(spark, tmp).collect()}
    assert out["web"]["n_mostly_duplicated"] >= 1   # doc 0 is 100% shared
    assert out["books"]["avg_dup_frac"] == 0.0      # self-repeats don't count
    assert out["books"]["n_mostly_duplicated"] == 0


def test_full_curation_lifecycle_composes(spark, tmp_path):
    """The user-story test: quality gate → exact dedup keep-set → span
    screen → holdout split → per-shard token-budget pack → JSONL export,
    all on the real sf0.001 documents table, each stage feeding the
    next as plain DataFrames."""
    import os

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.dedup import (
        dedup_clusters,
        keep_representatives,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        holdout_split_col,
        linear_quality_logit,
        pack_sequences,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
        export_text_shards,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_raw = docs.count()

    gated = docs.where(linear_quality_logit() > -10)  # permissive gate
    pairs = lsh_candidate_pairs(minhash_signatures(gated)).localCheckpoint()
    kept = keep_representatives(gated, dedup_clusters(pairs)).localCheckpoint()
    n_kept = kept.count()
    assert 0 < n_kept <= n_raw

    split = kept.withColumn("split", holdout_split_col())
    train = split.where(F.col("split") == "train")
    packed = pack_sequences(train, budget_tokens=512)
    assert packed.where(F.col("pack_id") < 0).count() == 0
    # every train doc got exactly one pack assignment
    assert packed.count() == train.count()

    out = str(tmp_path / "corpus")
    n_shards = export_text_shards(train, out, target_bytes=8 * 1024)
    assert n_shards >= 1
    back = spark.read.json(out)
    assert back.count() == train.count()
    # the kept ids survive the round trip exactly
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == {
        r["doc_id"] for r in train.select("doc_id").collect()
    }


def test_split_leakage_check_catches_random_split(spark, tmp_path):
    """The leakage gate is non-vacuous: byte-equal duplicates CAN cross
    a row-id-based split (the classic leak) and the same grouping logic
    flags them; the content-addressed split never trips it."""
    import os

    import pandas as pd

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        holdout_split_col,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans.catalog import (
        q_llm_split_leakage_check,
    )

    texts = [f"doc number {i % 7} body" for i in range(70)]  # 10 copies each
    pd.DataFrame(
        {
            "doc_id": range(70),
            "text": texts,
            "lang": ["en"] * 70,
            "source": ["web"] * 70,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(str(tmp_path / "documents.parquet"))
    # content-addressed split: gate stays empty despite heavy duplication
    assert q_llm_split_leakage_check(spark, str(tmp_path)).count() == 0
    # row-id split: the same dup corpus leaks across splits
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    bad_split = F.when(F.col("doc_id") % 10 < 8, "train").otherwise("test")
    leaked = (
        docs.select(F.md5("text").alias("fp"), bad_split.alias("split"))
        .groupBy("fp")
        .agg(F.count("*").alias("n"), F.count_distinct("split").alias("s"))
        .where((F.col("n") > 1) & (F.col("s") > 1))
    )
    assert leaked.count() > 0
    # and the real split assigns every copy of a text identically
    per_fp = (
        docs.select(F.md5("text").alias("fp"), holdout_split_col().alias("sp"))
        .groupBy("fp")
        .agg(F.count_distinct("sp").alias("s"))
    )
    assert per_fp.where(F.col("s") > 1).count() == 0


def test_pq_topk_with_string_ids(spark):
    """Regression: pq_encode/pq_cosine_topk hardcoded `long` id schemas
    while accepting any id_col — a string-keyed corpus (the documents
    table's natural key shape) must encode and search identically."""
    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        pq_cosine_topk,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .withColumn("vec_id", F.concat(F.lit("doc-"), F.col("vec_id")))
    )
    q = emb.where(F.col("vec_id").isin("doc-1", "doc-2"))
    rows = pq_cosine_topk(emb, q, k=3, m=16, ks=16, shortlist=40).collect()
    assert {r.query_id for r in rows} == {"doc-1", "doc-2"}
    assert all(isinstance(r.neighbor_id, str) for r in rows)
    assert all(r.neighbor_id != r.query_id for r in rows)


def test_url_parts_extraction_edges(spark):
    """urlops: host/registrable-domain/path-depth over the edge shapes —
    subdomains, multi-part suffixes (.co.uk), IP-literal hosts, ports,
    empty paths, uppercase hosts."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.urlops import (
        with_url_parts,
    )

    rows = [
        ("https://www.Example.COM/a/b/c", "www.example.com", "example.com", 3, False),
        ("https://cdn.data.site.co.uk/p", "cdn.data.site.co.uk", "site.co.uk", 1, False),
        ("http://10.0.3.7/raw", "10.0.3.7", "10.0.3.7", 1, True),
        ("https://example.org/", "example.org", "example.org", 0, False),
        ("http://host.ac.jp:8080/x", "host.ac.jp", "host.ac.jp", 1, False),
        ("https://localhost/x", "localhost", "localhost", 1, False),
    ]
    df = spark.createDataFrame([(u,) for u, *_ in rows], "url string")
    got = {
        r["url"]: (r["host"], r["registered_domain"], r["path_depth"], r["is_ip_host"])
        for r in with_url_parts(df).collect()
    }
    for url, host, dom, depth, is_ip in rows:
        assert got[url] == (host, dom, depth, is_ip), (url, got[url])


def test_blocklist_and_domain_cap(spark):
    """urlops: blocklist anti-join drops exactly the listed domains (and
    optionally IP hosts); the per-domain cap keeps the k best documents
    deterministically and the plan broadcasts the blocklist."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.urlops import (
        cap_per_domain,
        filter_blocked_domains,
        with_url_parts,
    )

    docs = spark.createDataFrame(
        [
            (i,
             f"https://{'bad' if i % 4 == 0 else 'ok'}{i % 2}.com/d",
             100 - i)
            for i in range(20)
        ] + [(99, "http://10.9.9.9/x", 5)],
        "doc_id long, url string, n_chars long",
    )
    parts = with_url_parts(docs)
    block = spark.createDataFrame(
        [("bad0.com",)], "registered_domain string"
    )
    kept = filter_blocked_domains(parts, block, drop_ip_hosts=True)
    doms = {r["registered_domain"] for r in kept.collect()}
    assert doms == {"ok0.com", "ok1.com"}  # bad0.com + the IP host gone
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan

    capped = cap_per_domain(kept, k=3, order_col="n_chars", tiebreak_col="doc_id")
    per = {}
    for r in capped.collect():
        per.setdefault(r["registered_domain"], []).append(r["doc_id"])
    assert all(len(v) == 3 for v in per.values())
    # best-n_chars-first: the smallest doc_ids carry the largest n_chars
    assert sorted(per["ok1.com"]) == [1, 3, 5]
    assert sorted(per["ok0.com"]) == [2, 6, 10]  # 4, 8 blocked via bad0


def test_pseudonymize_col_properties(spark):
    """Salted-hash pseudonymization: matches a reference sha256, is
    deterministic across frames (joins survive), injective on distinct
    ids, and never leaks the raw id into the output."""
    import hashlib

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        pseudonymize_col,
    )

    df = spark.createDataFrame([(i,) for i in range(100)], "user_id long")
    out = df.select("user_id", pseudonymize_col("user_id").alias("p")).collect()
    ref = hashlib.sha256(b"corpus-pepper42").hexdigest()
    got = {r.user_id: r.p for r in out}
    assert got[42] == ref
    assert len(set(got.values())) == 100  # injective on distinct ids

    # cross-table joinability: same salt → same pseudonym on both sides
    other = spark.createDataFrame([(i,) for i in range(50, 150)], "user_id long")
    a = df.select(pseudonymize_col("user_id").alias("p"))
    b = other.select(pseudonymize_col("user_id").alias("p"))
    assert a.join(b, "p").count() == 50
    # a different salt breaks linkage (the whole point of the pepper)
    c = other.select(pseudonymize_col("user_id", salt="other").alias("p"))
    assert a.join(c, "p").count() == 0


def test_approx_top_k_sketch_vs_exact(spark):
    """approx_top_k: on a skewed vocabulary the sketch's top items agree
    with the exact counts even when maxItemsTracked is far below the
    distinct count — the memory-bounded heavy-hitter contract."""
    from pyspark.sql import functions as F

    # 10 hot tokens (1000x each) + 20k singleton tail
    hot = spark.range(10_000).select(
        F.concat(F.lit("hot"), (F.col("id") % 10).cast("string")).alias("tok")
    )
    tail = spark.range(20_000).select(
        F.concat(F.lit("tail"), F.col("id").cast("string")).alias("tok")
    )
    toks = hot.unionAll(tail)
    sketch = {
        r["e"]["item"]: r["e"]["count"]
        for r in toks.agg(F.expr("approx_top_k(tok, 10, 2000)").alias("s"))
        .select(F.explode("s").alias("e"))
        .collect()
    }
    assert set(sketch) == {f"hot{i}" for i in range(10)}
    assert all(abs(v - 1000) <= 20 for v in sketch.values()), sketch


def test_pq_index_write_and_search(spark, tmp_path):
    """PQ index lifecycle: persist once (codes parquet + codebooks
    JSON), search later with no re-training/re-encoding; with the raw
    corpus the reranked results match the inline pq_cosine_topk
    exactly; without it the ADC-only path never touches raw vectors."""
    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        pq_cosine_topk,
        pq_index_search,
        pq_index_write,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    idx = str(tmp_path / "pq_index")
    meta = pq_index_write(emb, idx, m=16, ks=16)
    assert meta["dim"] == 64 and meta["id_col"] == "vec_id"
    import os

    assert os.path.isfile(os.path.join(idx, "codebooks.json"))
    assert os.path.isdir(os.path.join(idx, "codes-1"))

    q = emb.where(F.col("vec_id") < 5)
    via_index = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in pq_index_search(spark, idx, q, k=5, shortlist=60,
                                 corpus=emb).collect()
    }
    inline = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in pq_cosine_topk(emb, q, k=5, m=16, ks=16, shortlist=60).collect()
    }
    assert via_index == inline  # deterministic training → identical results

    # ADC-only (no raw vectors): right shape, k rows per query, scored
    adc_only = pq_index_search(spark, idx, q, k=5).collect()
    assert len(adc_only) == 25
    assert {r.query_id for r in adc_only} == {0, 1, 2, 3, 4}
    assert all(r.adc_score is not None for r in adc_only)

    # idempotent rewrite: same artifact, search still works
    pq_index_write(emb, idx, m=16, ks=16)
    assert pq_index_search(spark, idx, q, k=3, corpus=emb).count() == 15


def test_ivfadc_index_partition_pruned_probe(spark, tmp_path):
    """IVFADC persisted index: the code table is laid out
    partitionBy(list_id), so probing n of N lists is literal parquet
    partition pruning — the physical plan carries a list_id partition
    filter and unprobed directories are never read. Probing ALL lists
    with rerank reproduces the flat-index result; a narrow probe
    keeps a recall floor vs brute force."""
    import os

    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        cosine_topk_bruteforce,
        pq_cosine_topk,
        pq_index_search,
        pq_index_write,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    idx = str(tmp_path / "ivfadc")
    meta = pq_index_write(emb, idx, m=16, ks=16, n_lists=8)
    assert meta["n_lists"] == 8
    list_dirs = [
        d for d in os.listdir(os.path.join(idx, "codes-1"))
        if d.startswith("list_id=")
    ]
    assert len(list_dirs) == 8  # the directory layout IS the index

    q = emb.where(F.col("vec_id") < 5)
    # full probe + rerank == flat PQ (same deterministic codebooks)
    full = pq_index_search(spark, idx, q, k=5, shortlist=60, corpus=emb,
                           n_probe=8)
    inline = pq_cosine_topk(emb, q, k=5, m=16, ks=16, shortlist=60)
    assert (
        {(r.query_id, r.neighbor_id, r.rank) for r in full.collect()}
        == {(r.query_id, r.neighbor_id, r.rank) for r in inline.collect()}
    )

    # narrow probe: the scan must be partition-pruned to the probed dirs
    narrow = pq_index_search(spark, idx, q, k=5, shortlist=60, corpus=emb,
                             n_probe=2)
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan, plan
    got = {(r.query_id, r.neighbor_id) for r in narrow.collect()}
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    assert len(got & exact) / len(exact) >= 0.4, len(got & exact) / len(exact)


def test_pq_index_rewrite_leaves_no_stale_lists(spark, tmp_path):
    """Regression (review-confirmed): an in-place dynamic overwrite of
    the partitioned code table left stale list_id directories when a
    retrain emptied a coarse list — resurrecting deleted vectors scored
    against the WRONG codebooks. The versioned-directory swap must (a)
    drop superseded code dirs, (b) atomically repoint codebooks.json,
    (c) never index rows that left the corpus."""
    import json
    import os

    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        pq_index_search,
        pq_index_write,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    idx = str(tmp_path / "ivfadc")
    pq_index_write(emb, idx, m=16, ks=16, n_lists=8)
    # retrain over a SHRUNK corpus (half the rows gone)
    kept = emb.where(F.col("vec_id") % 2 == 0)
    pq_index_write(kept, idx, m=16, ks=16, n_lists=8)
    dirs = sorted(d for d in os.listdir(idx) if d.startswith("codes"))
    assert dirs == ["codes-2"], dirs  # old version dropped after swap
    meta = json.loads(open(os.path.join(idx, "codebooks.json")).read())
    assert meta["codes_dir"] == "codes-2"
    # no deleted vector can come back as a neighbor
    q = kept.where(F.col("vec_id") < 6)
    rows = pq_index_search(spark, idx, q, k=5, shortlist=60, corpus=kept,
                           n_probe=8).collect()
    assert rows and all(r.neighbor_id % 2 == 0 for r in rows)

    # external-id query space: exclude_self=False keeps the colliding
    # corpus id as a legitimate neighbor (it IS the nearest vector)
    ext = kept.where(F.col("vec_id") == 4).select(
        F.col("vec_id").alias("vec_id"), "embedding"
    )
    with_self = pq_index_search(spark, idx, ext, k=1, shortlist=30,
                                corpus=kept, n_probe=8,
                                exclude_self=False).collect()
    assert with_self[0].neighbor_id == 4  # identical vector wins rank 1


def test_url_parts_survive_garbage_urls(spark):
    """Regression (review-confirmed ANSI kill): plain parse_url throws
    INVALID_URL on crawl garbage under ANSI mode — one bad row killed
    the whole curation job. try_parse_url yields NULL host instead, and
    the registered domain must PROPAGATE the NULL (not collapse every
    host-less row into one phantom '' domain that a per-domain cap
    would then truncate as if it were one site)."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.urlops import (
        cap_per_domain,
        with_url_parts,
    )

    df = spark.createDataFrame(
        [
            (1, "ht tp://bad url with spaces", 10),
            (2, "mailto:someone@example.com", 20),
            (3, "https://ok.com/x", 30),
            (4, "%%%not-a-url%%%", 40),
            (5, "https://ok.com/y", 50),
        ],
        "doc_id long, url string, n_chars long",
    )
    parts = with_url_parts(df).collect()  # must not throw
    by_id = {r.doc_id: r for r in parts}
    assert by_id[3].registered_domain == "ok.com"
    assert by_id[1].registered_domain is None
    assert by_id[2].registered_domain is None
    assert by_id[4].registered_domain is None
    # NULL-domain rows pass the cap INDIVIDUALLY (they are not one
    # site); real domains are capped to their best doc
    capped = cap_per_domain(with_url_parts(df), k=1)
    ids = {r.doc_id for r in capped.collect()}
    assert ids == {1, 2, 4, 5}  # all null-domain rows kept; ok.com -> best


def test_pq_index_write_crash_window_leaves_old_index_usable(spark, tmp_path):
    """Crash between the codes write and the metadata swap: the
    previous index stays fully searchable (meta still points at its
    codes dir), and the next successful write supersedes BOTH the live
    and the orphaned directory."""
    import os

    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        pq_index_search,
        pq_index_write,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    idx = str(tmp_path / "pq")
    pq_index_write(emb, idx, m=16, ks=16)
    # simulate a crashed rewrite: codes-2 landed, meta swap never did
    os.makedirs(os.path.join(idx, "codes-2", "partial"))
    q = emb.where(F.col("vec_id") < 3)
    assert pq_index_search(spark, idx, q, k=3, corpus=emb).count() == 9

    # the next write versions PAST the orphan and clears it
    pq_index_write(emb, idx, m=16, ks=16)
    dirs = sorted(d for d in os.listdir(idx) if d.startswith("codes"))
    assert dirs == ["codes-3"], dirs
    assert pq_index_search(spark, idx, q, k=3, corpus=emb).count() == 9


def test_unigram_nll_ranks_rare_token_docs_higher(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        unigram_nll,
    )

    docs = spark.createDataFrame(
        [
            (1, "the the the the"),          # all high-frequency
            (2, "the the zzqx the"),         # one hapax
            (3, "zzqa zzqb zzqc zzqd"),      # all hapaxes
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in unigram_nll(docs).collect()}
    assert rows[1]["n_toks"] == 4
    assert rows[1]["nll"] < rows[2]["nll"] < rows[3]["nll"]


def test_unigram_nll_reference_corpus_and_broadcast_paths_agree(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        unigram_nll,
    )

    ref = spark.createDataFrame(
        [(10, "alpha beta gamma alpha"), (11, "alpha beta")],
        "doc_id long, text string",
    )
    scored = spark.createDataFrame(
        [(1, "alpha alpha"), (2, "gamma")], "doc_id long, text string"
    )
    shuffle = {
        r["doc_id"]: r["nll"]
        for r in unigram_nll(scored, freq_source=ref).collect()
    }
    bcast = {
        r["doc_id"]: r["nll"]
        for r in unigram_nll(
            scored, freq_source=ref, broadcast_vocab=True
        ).collect()
    }
    assert shuffle == bcast
    # alpha has p=3/6, gamma p=1/6 under the REFERENCE corpus
    import math

    assert abs(shuffle[1] - round(-math.log(3 / 6), 4)) < 1e-9
    assert abs(shuffle[2] - round(-math.log(1 / 6), 4)) < 1e-9


def test_unigram_nll_oov_docs_rank_worst_not_dropped(spark):
    """Against a reference corpus, fully-OOV documents must appear in
    the output at the Laplace-floor (worst) score, not vanish via an
    inner join — they are the documents the filter exists to catch."""
    import math

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        unigram_nll,
    )

    ref = spark.createDataFrame(
        [(10, "alpha beta gamma alpha")], "doc_id long, text string"
    )
    scored = spark.createDataFrame(
        [(1, "alpha alpha"), (2, "zzq yyx")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in unigram_nll(scored, freq_source=ref).collect()}
    assert set(rows) == {1, 2}  # the pure-gibberish doc is present
    assert rows[2]["n_toks"] == 2  # OOV tokens counted
    floor = round(-math.log(1.0 / 5.0), 4)  # p = 1/(total 4 + 1)
    assert abs(rows[2]["nll"] - floor) < 1e-9
    assert rows[2]["nll"] > rows[1]["nll"]  # gibberish ranks worst


def test_pq_index_append_incremental_growth(spark, tmp_path):
    """Incremental index growth: append encodes NEW vectors with the
    standing codebooks/coarse quantizer — the appended index equals a
    from-scratch encode of the unioned corpus under the SAME codebooks,
    search finds the new rows through partition-pruned probing, and
    skip_existing makes replayed appends idempotent."""
    import os

    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        pq_index_append,
        pq_index_search,
        pq_index_write,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding")
    )
    base = emb.where(F.col("vec_id") < 40)
    idx = str(tmp_path / "pq_idx")
    meta = pq_index_write(base, idx, m=16, ks=16, n_lists=4)
    assert meta["n_lists"] == 4

    # "new arrivals": exact copies of vectors 0..4 under fresh ids —
    # their nearest neighbor (excluding self) must become the original
    newbies = (
        emb.where(F.col("vec_id") < 5)
        .select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    )
    out = pq_index_append(newbies, idx)
    assert out["n_appended"] == 5
    codes = spark.read.parquet(os.path.join(idx, meta["codes_dir"]))
    assert codes.count() == 45
    assert "list_id" in codes.columns  # IVF partitioning survives append

    full = base.unionByName(
        emb.where(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
        )
    )
    hits = pq_index_search(
        spark, idx, newbies, k=1, shortlist=30, corpus=full, n_probe=4
    ).collect()
    got = {r.query_id: r.neighbor_id for r in hits}
    assert got == {1000 + i: i for i in range(5)}  # dup-of is rank-1

    # replayed append: skip_existing keeps the code table exactly-once
    again = pq_index_append(newbies, idx, skip_existing=True)
    assert again["n_appended"] == 0
    assert spark.read.parquet(os.path.join(idx, meta["codes_dir"])).count() == 45

    # id-type mismatch is refused before any write
    import pytest as _pytest

    bad = newbies.select(F.col("vec_id").cast("int").alias("vec_id"), "embedding")
    with _pytest.raises(ValueError, match="id-space mismatch"):
        pq_index_append(bad, idx)


def test_duplicated_spans_broadcast_gate(spark):
    """The survivor-recovery joins broadcast only while the survivor set
    fits the session's autoBroadcastJoinThreshold; an over-threshold set
    must fall back to a shuffle join instead of a forced broadcast that
    would OOM at web scale. Output is identical either way."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        duplicated_spans,
    )

    boiler = "this license text is repeated verbatim everywhere"
    docs = spark.createDataFrame(
        [(0, f"{boiler} unique tail zero"), (1, f"one {boiler} more")],
        "doc_id long, text string",
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    small = duplicated_spans(docs, n=7)
    assert "BroadcastHashJoin" in plan(small)

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # a tiny POSITIVE threshold drives the gate over budget ('-1' now
    # falls back to the 10 MB default budget — r15 advice — so it no
    # longer exercises the fallback side)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try:
        large = duplicated_spans(docs, n=7)  # any survivor set > 1 byte
        p = plan(large)
        assert "BroadcastHashJoin" not in p, p
        assert {(r.span, r.n_docs, r.n_occ) for r in large.collect()} == {
            (r.span, r.n_docs, r.n_occ) for r in small.collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_bigram_nll_hand_computed(spark):
    """d0='a b a b', d1='b b': pairs ab×2+ba / bb, contexts a:2 b:2,
    V=2 — NLLs match the closed-form Laplace model; a 1-token doc
    has no transitions and drops out."""
    import math

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        bigram_nll,
    )

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "b b"), (2, "solo")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bigram_nll(docs).collect()}
    assert set(out) == {0, 1}
    # c12: ab=2, ba=1, bb=1; c1: a=2, b=2; V=3 (a, b, solo)
    v = 3
    d0 = -(math.log((2 + 1) / (2 + v)) + math.log((1 + 1) / (2 + v))
           + math.log((2 + 1) / (2 + v))) / 3
    d1 = -math.log((1 + 1) / (2 + v))
    assert out[0]["n_bigrams"] == 3 and out[0]["nll"] == round(d0, 4)
    assert out[1]["n_bigrams"] == 1 and out[1]["nll"] == round(d1, 4)


def test_bigram_nll_oov_scores_worst_against_reference(spark):
    """Scored against a REFERENCE corpus, a gibberish doc (unseen
    contexts and pairs) must score strictly worse than an in-domain
    doc — and must not vanish (left-join contract)."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        bigram_nll,
    )

    ref = spark.createDataFrame(
        [(0, "the cat sat on the mat the cat ran")], "doc_id long, text string"
    )
    scored = spark.createDataFrame(
        [(1, "the cat sat"), (2, "zz qq vv")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["nll"] for r in bigram_nll(scored, freq_source=ref).collect()}
    assert set(out) == {1, 2}
    assert out[2] > out[1], out


def test_bigram_nll_detects_shuffled_word_order(spark):
    """The bigram LM's reason to exist: same unigram profile, broken
    transitions. A doc whose words are shuffled against a repetitive
    reference scores worse than the in-order doc."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        bigram_nll,
        unigram_nll,
    )

    ref = spark.createDataFrame(
        [(0, "the cat sat on the mat " * 20)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat sat on the mat"),
         (2, "mat the on sat cat the mat the on sat cat the")],
        "doc_id long, text string",
    )
    bg = {r["doc_id"]: r["nll"] for r in bigram_nll(docs, freq_source=ref).collect()}
    ug = {r["doc_id"]: r["nll"] for r in unigram_nll(docs, freq_source=ref).collect()}
    assert ug[1] == ug[2]  # unigram LM is blind to order
    assert bg[2] > bg[1], bg  # bigram LM is not


def test_gopher_rules_flags_plan_is_scan_stage(spark):
    """The full rule set is one codegen'd projection: no Exchange in
    the flags plan (the catalog query's only shuffle is the tiny
    per-source count aggregate)."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        gopher_quality_flags,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    flags = gopher_quality_flags()
    plan = (
        docs.select("doc_id", *[v.alias(k) for k, v in flags.items()])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_extract_features_fuzz_corpus_fails_soft(spark):
    """Composes the codec fuzz with the Spark path (VERDICT r10 task 4):
    a media frame carrying valid seeds, bit-flipped mutants, truncations,
    and signature-bearing garbage for all five codecs goes through ONE
    live ``extract_features(fake=False)`` mapInArrow pass. The contract
    under test is the executor-side error policy: malformed payloads
    must become ``features IS NULL`` rows — never a task failure — while
    valid payloads on the SAME partitions still decode. A future
    executor-side wrapper change that lets a codec contract error
    escape the row boundary fails this test, not a 100 TB stage."""
    from test_audio_codec import make_wav, sine
    from test_avi_codec import write_avi_ref
    from test_codec_fuzz import _gif_seeds, _png_seeds, _wav_seeds
    from test_jpeg_codec import encode_jpeg_ref

    rng = np.random.default_rng(1106)
    rgb = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    jpeg_seed = encode_jpeg_ref(rgb)
    seeds = (
        [("image", s) for s in _png_seeds() + _gif_seeds()]
        + [("image", jpeg_seed), ("image", encode_jpeg_ref(rgb, subsample=True))]
        + [("audio", s) for s in _wav_seeds()]
        + [("video", write_avi_ref([jpeg_seed, jpeg_seed], 16, 16))]
    )

    corpus: list[tuple[int, str, bytes]] = []  # (media_id, kind, payload)
    valid_ids = []
    mid = 0
    for kind, seed in seeds:
        valid_ids.append(mid)
        corpus.append((mid, kind, seed))
        mid += 1
        for pos in rng.integers(0, len(seed), 25):  # single-byte mutants
            mutated = bytearray(seed)
            mutated[pos] = int(rng.integers(0, 256))
            corpus.append((mid, kind, bytes(mutated)))
            mid += 1
        for cut in rng.integers(1, len(seed), 6):  # truncations
            corpus.append((mid, kind, seed[: int(cut)]))
            mid += 1
    # signature-bearing garbage + format confusion (payload of one codec
    # under another kind's dispatch) + unsupported-format gates
    for kind, sig in [
        ("image", b"\x89PNG\r\n\x1a\n"), ("image", b"GIF89a"),
        ("image", b"\xff\xd8\xff"), ("audio", b"RIFF"),
        ("video", b"RIFF\x20\x00\x00\x00AVI "),
    ]:
        for _ in range(8):
            corpus.append((mid, kind, sig + bytes(rng.integers(0, 256, 64, dtype=np.uint8))))
            mid += 1
    corpus.append((mid, "audio", seeds[0][1])); mid += 1      # png bytes as audio
    corpus.append((mid, "video", _wav_seeds()[0])); mid += 1  # wav bytes as video
    corpus.append((mid, "image", b"BM" + b"\x00" * 60)); mid += 1  # BMP -> gated
    corpus.append((mid, "image", None)); mid += 1             # null payload

    media = spark.createDataFrame(
        [(i, k, p if p is None else bytearray(p)) for i, k, p in corpus],
        "media_id long, kind string, payload binary",
    ).repartition(8)
    rows = extract_features(media, fake=False).collect()  # must not DNF
    assert len(rows) == len(corpus)
    by_id = {r.media_id: r for r in rows}
    # every row is either a full feature vector or a documented null
    for r in rows:
        assert r.features is None or len(r.features) == FEATURE_DIM
    # the valid seeds sharing partitions with the mutants still decode
    for i in valid_ids:
        assert by_id[i].features is not None, f"valid seed {i} nulled"
        assert by_id[i].n_bytes > 0
    # malformed-vs-null-payload rows are distinguishable: n_bytes > 0
    nulled = [r for r in rows if r.features is None and r.media_id != mid - 1]
    assert nulled, "corpus produced no malformed rows — fuzz lost its teeth"
    assert all(r.n_bytes > 0 for r in nulled)
    assert by_id[mid - 1].n_bytes == 0  # the null-payload row

    # strict mode propagates the contract error instead of nulling
    bad = spark.createDataFrame(
        [(0, "image", bytearray(b"\x89PNG\r\n\x1a\n garbage"))],
        "media_id long, kind string, payload binary",
    )
    with pytest.raises(Exception, match="malformed|truncated|PNG"):
        extract_features(bad, fake=False, on_error="raise").collect()


def test_bigram_ctx_derivation_matches_direct_count(spark):
    """r16: the context table derives from the bigram model
    (c1 = SUM(c12) grouped by the bigram's first token) instead of a
    third corpus-scale explode. Pin the integer identity against the
    direct pair-stream count on real data — any drift here would shift
    every smoothed conditional."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.textops import (
        bigrams_col,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = docs.select(F.explode(bigrams_col("text")).alias("bg"))
    direct = {
        r.w1: r.c1
        for r in pairs.select(
            F.substring_index("bg", " ", 1).alias("w1")
        )
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
        .collect()
    }
    derived = {
        r.w1: r.c1
        for r in pairs.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
        .select(F.substring_index("bg", " ", 1).alias("w1"), "c12")
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
        .collect()
    }
    assert direct == derived
