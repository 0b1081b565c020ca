"""Unit tests for the pipeline operators not fully covered by the oracle
parity suite: multimodal plumbing, LSH/IVF similarity, dedup building
blocks."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def media_df(spark):
    from interop_spark.operators.multimodal import MEDIA_SCHEMA

    rows = [
        (1, "image", b"\x89PNG fake bytes 1", 640, 480, None, None, "png"),
        (2, "image", b"\x89PNG fake bytes 22", 800, 600, None, None, "png"),
        (3, "audio", b"RIFF fake wav", None, None, 44100, None, "wav"),
        (4, "video", b"\x00\x00ftyp fake mp4", 1920, 1080, None, 95, "mp4"),
        (5, "image", None, 10, 10, None, None, "png"),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_batch_shape(media_df):
    from interop_spark.operators.multimodal import FEATURE_DIM, extract_features

    out = {r.media_id: r for r in extract_features(media_df).collect()}
    assert len(out) == 5
    r1 = out[1]
    assert r1.n_bytes == len(b"\x89PNG fake bytes 1")
    assert r1.sha256 == hashlib.sha256(b"\x89PNG fake bytes 1").hexdigest()
    assert len(r1.features) == FEATURE_DIM
    assert all(0.0 <= x <= 1.0 for x in r1.features)
    # deterministic fake decode
    digest = hashlib.sha256(b"\x89PNG fake bytes 1").digest()
    assert r1.features[0] == pytest.approx(digest[0] / 255.0)
    # NULL payload → NULL features, not a crash
    assert out[5].features is None and out[5].n_bytes == 0


def test_decode_unrecognized_raises_value_error():
    """r8 contract: real decode handles png/jpeg/gif (header-level or
    better) and raises ValueError ONLY on unrecognized containers; the
    old NotImplementedError stub is gone (test_multimodal_decode.py
    covers the positive paths)."""
    from interop_spark.operators.multimodal import decode_image

    with pytest.raises(ValueError):
        decode_image(b"bytes", fake=False)


def test_frame_sample(media_df):
    from interop_spark.operators.multimodal import frame_sample

    frames = frame_sample(media_df, every_n=10).collect()
    assert {r.media_id for r in frames} == {4}
    assert [r.frame_index for r in frames] == list(range(0, 95, 10))


def test_media_stats_prunes_binary(media_df):
    from interop_spark.operators.multimodal import media_stats

    out = {r.kind: r.n_media for r in media_stats(media_df).collect()}
    assert out == {"image": 3, "audio": 1, "video": 1}


def test_lsh_topk_subset_of_brute_force(spark, sf_dir):
    """LSH top-k results must be a subset of the brute-force ranking's
    candidate pool (same bucket ⇒ same scores)."""
    from interop_spark.io import load
    from interop_spark.operators.similarity import brute_force_topk, lsh_topk

    e = load(spark, sf_dir, "embeddings")
    query = e.where(F.col("vec_id") == 0).collect()[0].embedding
    brute = brute_force_topk(e, list(query), k=50).collect()
    approx = lsh_topk(e, list(query), k=5, n_planes=4).collect()
    assert approx, "query's own bucket must at least contain itself"
    brute_scores = {r.vec_id: r.cosine_sim for r in brute}
    # the query vector itself is in its own bucket and ranks first
    assert approx[0].vec_id == 0
    for r in approx:
        if r.vec_id in brute_scores:
            assert r.cosine_sim == pytest.approx(brute_scores[r.vec_id])


def test_ivf_assign_cells(spark, sf_dir):
    from interop_spark.io import load
    from interop_spark.operators.similarity import ivf_assign

    e = load(spark, sf_dir, "embeddings")
    centroids = (
        e.where(F.col("vec_id") < 4)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid"),
        )
    )
    assigned = ivf_assign(e, centroids)
    assert assigned.count() == e.count()
    # each centroid vector must land in its own cell (cosine=1 with itself)
    own = {r.vec_id: r.cell for r in assigned.where(F.col("vec_id") < 4).collect()}
    assert own == {0: 0, 1: 1, 2: 2, 3: 3}
    n_cells = assigned.select("cell").distinct().count()
    assert 1 < n_cells <= 4


def test_simhash_near_dup_property(spark):
    """Near-identical docs differ in few simhash bits; unrelated docs in
    many."""
    from interop_spark.operators.dedup import simhash

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the ocean"),
        (3, "completely different words about spark query engines and joins"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r.id: r.sh for r in df.select("id", simhash(F.col("text")).alias("sh")).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])
    assert hamming(out[1], out[2]) <= 12


def test_merge_into_delta_semantics(spark):
    """UPDATE SET * / DELETE / INSERT * clause combinations match the
    documented Delta MERGE behavior."""
    from interop_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "t1"), (2, "t2"), (3, "t3")], "k int, v string"
    )
    source = spark.createDataFrame(
        [(2, "s2"), (4, "s4")], "k int, v string"
    )
    upsert = {
        (r.k, r.v) for r in merge_into(target, source, ["k"]).collect()
    }
    assert upsert == {(1, "t1"), (2, "s2"), (3, "t3"), (4, "s4")}

    deleted = {
        (r.k, r.v)
        for r in merge_into(
            target, source, ["k"], when_matched="delete",
            when_not_matched="ignore",
        ).collect()
    }
    assert deleted == {(1, "t1"), (3, "t3")}


def test_merge_into_duplicate_source_match_raises(spark):
    """Two source rows hitting the same target key must fail at execution
    (Delta's multiple-source-row-matching error), not silently duplicate."""
    import pytest as _pytest

    from interop_spark.operators.merge import merge_into

    target = spark.createDataFrame([(1, "t1")], "k int, v string")
    dup_source = spark.createDataFrame(
        [(1, "a"), (1, "b")], "k int, v string"
    )
    merged = merge_into(target, dup_source, ["k"])
    with _pytest.raises(Exception, match="multiple source rows"):
        merged.collect()
    # non-matching duplicates are plain inserts — no error
    ins_only = spark.createDataFrame([(9, "a"), (9, "b")], "k int, v string")
    assert merge_into(target, ins_only, ["k"]).count() == 3


def test_merge_into_delete_duplicate_source_match_raises(spark):
    """Delta raises the multiple-source-rows-match error for WHEN MATCHED
    DELETE too — the checked frame feeds the anti-join build side, so
    the error fires even though matched rows are absent from the
    output."""
    import pytest as _pytest

    from interop_spark.operators.merge import merge_into

    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    dup_source = spark.createDataFrame(
        [(1, "x"), (1, "y")], "k int, v string"
    )
    merged = merge_into(target, dup_source, ["k"], when_matched="delete")
    with _pytest.raises(Exception, match="multiple source rows"):
        merged.collect()
    # source_unique=True skips the check: both matched rows deleted
    ok = merge_into(
        target, dup_source, ["k"], when_matched="delete",
        when_not_matched="ignore", source_unique=True,
    )
    assert [(r.k, r.v) for r in ok.collect()] == [(2, "b")]


def test_dedup_clusters_nonconvergence_raises(spark):
    """A chain longer than max_iters propagation rounds must raise, not
    silently return split cluster labels."""
    import pytest as _pytest

    from interop_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    chain = [(i, i + 1) for i in range(12)]  # diameter 12 > max_iters=3
    pairs = spark.createDataFrame(chain, "doc_a int, doc_b int")
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iters=3)
    # the star algorithm is diameter-independent: same graph, few rounds
    got = {r.doc_id: r.cluster for r in
           dedup_clusters_star(pairs, max_iters=8).collect()}
    assert got == {i: 0 for i in range(13)}


def test_nearest_centroid_no_winner_is_null(spark):
    """Empty centroid array / NULL similarities yield NULL, never the -1
    init sentinel (which would flow on as a real-looking cluster id)."""
    from pyspark.sql import functions as F

    from interop_spark.operators.similarity import nearest_centroid

    df = spark.createDataFrame(
        [([1.0, 0.0],)], "vec array<double>"
    ).withColumn("empty_cents", F.expr(
        "CAST(array() AS array<struct<k:bigint,v:array<double>>>)"
    ))
    row = df.select(
        nearest_centroid(F.col("vec"), F.col("empty_cents")).alias("cell")
    ).collect()[0]
    assert row.cell is None


def test_query_cells_nprobe1_matches_nearest_centroid(spark):
    """Multi-probe with nprobe=1 must reproduce the single-probe argmax
    exactly (same rounded similarity, same tie semantics)."""
    from pyspark.sql import functions as F

    from interop_spark.operators import similarity as sim

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    cents = sim.centroid_array(cent)
    probed = (
        e.crossJoin(F.broadcast(cents))
        .withColumn("_vn", sim.l2_norm(sim.as_double(F.col("embedding"))))
        .select(
            "vec_id",
            sim.nearest_centroid(
                F.col("embedding"), F.col("_cents"), F.col("_vn")
            ).alias("cell"),
            F.get(
                sim.query_cells(
                    F.col("embedding"), F.col("_cents"), F.col("_vn"), 1
                ),
                0,
            ).alias("cell1"),
        )
    )
    assert probed.where(
        ~F.col("cell").eqNullSafe(F.col("cell1"))
    ).count() == 0


def test_gopher_quality_flags(spark):
    """Gopher §A1.1 signals: a clean prose doc keeps, pathological docs
    (symbol spam, bullet lists, non-alpha tokens) drop on the right
    signal."""
    from pyspark.sql import functions as F

    from interop_spark.operators.text import gopher_quality_flags

    prose = " ".join(
        "the quick brown fox jumps over a lazy dog near the old river bank"
        .split() * 5
    )
    symbols = " ".join(["### ##" for _ in range(40)])
    bullets = "\n".join([f"- item {i}" for i in range(20)])
    nonalpha = " ".join([str(i) for i in range(100)])
    df = spark.createDataFrame(
        [("prose", prose), ("symbols", symbols), ("bullets", bullets),
         ("nonalpha", nonalpha)],
        "name string, text string",
    ).select("name", gopher_quality_flags(F.col("text")).alias("q"))
    rows = {r.name: r.q.asDict() for r in df.collect()}
    assert rows["prose"]["keep"] is True
    assert rows["symbols"]["keep"] is False
    assert rows["symbols"]["symbol_word_ratio"] >= 0.1
    assert rows["bullets"]["keep"] is False
    assert rows["bullets"]["bullet_ratio"] >= 0.9
    assert rows["nonalpha"]["keep"] is False
    assert rows["nonalpha"]["alpha_word_ratio"] < 0.8
    # dup-line repetition signal fires on repeated lines
    rep = "\n".join(["same line of text here"] * 10)
    q = (
        spark.range(1)
        .select(gopher_quality_flags(F.lit(rep)).alias("q"))
        .collect()[0]
        .q.asDict()
    )
    assert q["dup_line_ratio"] >= 0.8


def test_repetition_signals_hand_computed(spark):
    """Repetition signals against hand-computed values: 'a b a b a b'
    has bigrams [a b, b a, a b, b a, a b] sorted → runs (a b)×3,
    (b a)×2 → top bigram 'a b' (3 occurrences × 3 chars = 9) over 11
    chars; every bigram is duplicated, so dup chars at n=2 would be
    3·3+2·3=15 — but dup fractions are only emitted for n≥5, so a
    10-word exact repetition drives the 5-gram dup signal instead."""
    from pyspark.sql import functions as F

    from interop_spark.operators.text import repetition_signals

    doc = "a b a b a b"  # 11 chars
    r = (
        spark.range(1)
        .select(
            repetition_signals(F.lit(doc), top_ns=(2,), dup_ns=(2,)).alias(
                "r"
            )
        )
        .collect()[0]
        .r.asDict()
    )
    assert r["top_2gram_char_frac"] == 9 / 11
    assert r["dup_2gram_char_frac"] == 15 / 11
    # a unique-word doc has no repetition: top n-gram count is 1 and no
    # n-gram duplicates
    uniq = "one two three four five six seven eight nine ten"
    r2 = (
        spark.range(1)
        .select(
            repetition_signals(F.lit(uniq), top_ns=(2,), dup_ns=(5,)).alias(
                "r"
            )
        )
        .collect()[0]
        .r.asDict()
    )
    assert r2["dup_5gram_char_frac"] == 0.0
    assert 0 < r2["top_2gram_char_frac"] < 0.5


def test_pq_adc_equals_exact_distance_to_reconstruction(spark, sf_dir):
    """ADC is EXACT for the reconstructed vector: summing the M
    per-subspace table entries equals the squared L2 distance between
    the query and the decoded (codeword-concatenated) vector — the
    identity ||x-y||^2 = sum_m ||x_m-y_m||^2 that PQ rests on. Also
    pins encode determinism and the code range."""
    from interop_spark.io import load
    from interop_spark.operators.pq import pq_adc_topk, pq_encode, pq_train

    e = load(spark, sf_dir, "embeddings").limit(64)
    M, K = 8, 8
    cbs = pq_train(e, m_subspaces=M, k=K, iters=1)
    assert len(cbs) == M and all(len(cb) == K for cb in cbs)

    enc = pq_encode(e, cbs)
    rows = {r.vec_id: list(r.codes) for r in enc.collect()}
    assert all(0 <= c < K for cs in rows.values() for c in cs)
    # determinism: a second encode pass yields identical codes
    rows2 = {r.vec_id: list(r.codes) for r in pq_encode(e, cbs).collect()}
    assert rows == rows2

    q = [float(x) for x in e.orderBy("vec_id").first()["embedding"]]
    sub = len(cbs[0][0])
    got = {r.vec_id: r.adc_dist for r in pq_adc_topk(enc, q, cbs, k=64).collect()}
    for vid, codes in rows.items():
        recon = [x for m, c in enumerate(codes) for x in cbs[m][c]]
        exact = sum((a - b) ** 2 for a, b in zip(q, recon))
        assert abs(got[vid] - exact) < 1e-9
    # the query vector's own row ranks first (its reconstruction is the
    # closest among all encoded rows for this fixture)
    top = pq_adc_topk(enc, q, cbs, k=5).collect()
    assert top[0].adc_dist <= top[-1].adc_dist


def test_bpe_train_merges_list_equals_frames(spark, sf_dir):
    """The driver-side BPE training loop (r20) must learn the identical
    merge list to the windowed frame reference on the real fixture's
    word-frequency table (argmax ties, greedy run-parity keep set, and
    pair counts all pinned by list equality)."""
    from interop_spark.io import load
    from interop_spark.operators.text import (
        _bpe_train_merges_frames,
        bpe_train_merges_list,
        tokens,
    )

    d = load(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    assert bpe_train_merges_list(wf, 4) == _bpe_train_merges_frames(wf, 4)


def test_minhash_signature_expr_equivalent(spark, sf_dir):
    """The single-parse (string column name) build of the MinHash
    signature must produce identical signatures to the element-wise
    Column build on the real fixture."""
    from interop_spark.io import load
    from interop_spark.operators.dedup import (
        minhash_signature,
        word_shingles,
    )

    d = load(spark, sf_dir, "documents").limit(100)
    sh = d.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("shingles")
    )
    rows = sh.select(
        "doc_id",
        minhash_signature("shingles", 12).alias("a"),
        minhash_signature(F.col("shingles"), 12).alias("b"),
    ).collect()
    assert len(rows) > 0
    assert all(list(r.a) == list(r.b) for r in rows)


def test_pq_codes_udf_bitexact_vs_fold(spark, sf_dir):
    """The Arrow-vectorized ``pq_codes_udf`` (r20) must reproduce the
    interpreted argmin-fold reference code-for-code on the real fixture
    — left-to-right accumulation, round-9 HALF_UP, ties to the lowest
    code, NULL/wrong-dim rows to NULL codes."""
    from interop_spark.io import load
    from interop_spark.operators.pq import (
        _argmin_code,
        pq_codes_udf,
        pq_train,
        subvector,
    )
    from interop_spark.operators.similarity import as_double

    e = load(spark, sf_dir, "embeddings")
    cbs = pq_train(e, m_subspaces=4, k=4, iters=1, dim=64)
    sub = len(cbs[0][0])
    fold_codes = F.array(
        *[
            _argmin_code(
                as_double(subvector(F.col("embedding"), m, sub)), cb
            ).cast("int")
            for m, cb in enumerate(cbs)
        ]
    )
    valid = F.col("embedding").isNotNull() & (
        F.size(F.col("embedding")) == 64
    )
    both = e.select(
        "vec_id",
        F.when(valid, fold_codes).alias("ref"),
        pq_codes_udf(cbs)(F.col("embedding")).alias("got"),
    ).collect()
    assert len(both) > 0
    for r in both:
        ref = None if r.ref is None else list(r.ref)
        got = None if r.got is None else list(r.got)
        assert ref == got, (r.vec_id, ref, got)


def test_nearest_centroid_udf_bitexact_vs_fold(spark, sf_dir):
    """The Arrow-vectorized IVF assignment (r20) must reproduce the
    interpreted argmax-fold reference cell-for-cell on the real fixture
    — round-9 HALF_UP cosine, ties to the largest id, NULL vector to
    NULL cell."""
    from interop_spark.io import load
    from interop_spark.operators.similarity import (
        _ivf_assign_fold,
        ivf_assign,
    )

    e = load(spark, sf_dir, "embeddings")
    cent = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    ref = {
        r.vec_id: r.cell for r in _ivf_assign_fold(e, cent).collect()
    }
    got = {r.vec_id: r.cell for r in ivf_assign(e, cent).collect()}
    assert ref == got
    # NULL vector → NULL cell on both paths
    bad = spark.createDataFrame(
        [(9001, None)], "vec_id long, embedding array<float>"
    )
    assert ivf_assign(bad, cent).collect()[0].cell is None
    assert _ivf_assign_fold(bad, cent).collect()[0].cell is None


def test_query_cosine_udf_bitexact(spark, sf_dir):
    """The Arrow query-cosine scorer (r20) must reproduce the
    interpreted fold chain value-for-value on the real fixture, in both
    round-6 and floor-ppb modes (incl. NULL propagation)."""
    from interop_spark.io import load
    from interop_spark.operators.similarity import (
        as_double,
        cosine_sim,
        cosine_sim_given_norms,
        l2_norm,
        query_cosine_udf,
        query_vector_literal,
    )

    e = load(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.where(F.col("vec_id") == 0).first()[1]]
    qv = query_vector_literal(q)
    ref6 = F.round(
        cosine_sim_given_norms(
            as_double(F.col("embedding")),
            as_double(qv),
            l2_norm(as_double(F.col("embedding"))),
            l2_norm(as_double(qv)),
        ),
        6,
    )
    refppb = F.floor(
        cosine_sim(as_double(F.col("embedding")), as_double(qv))
        * F.lit(1e9)
    ).cast("bigint")
    rows = e.select(
        "vec_id",
        ref6.alias("r6"),
        refppb.alias("rp"),
        query_cosine_udf(q, round_digits=6)(F.col("embedding")).alias(
            "g6"
        ),
        query_cosine_udf(q, ppb=1_000_000_000)(
            F.col("embedding")
        ).alias("gp"),
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.r6 == r.g6, (r.vec_id, r.r6, r.g6)
        assert r.rp == r.gp, (r.vec_id, r.rp, r.gp)
    bad = spark.createDataFrame(
        [(9001, None), (9002, [0.5, 0.25])],
        "vec_id long, embedding array<float>",
    )
    got = bad.select(
        query_cosine_udf(q, round_digits=6)(F.col("embedding")).alias("g")
    ).collect()
    assert all(r.g is None for r in got)


def test_pair_cosine_udf_bitexact(spark, sf_dir):
    """The Arrow pair-cosine scorer (r20) must reproduce
    ``round(cosine_sim(a, b), 6)`` on real fixture pairs."""
    from interop_spark.io import load
    from interop_spark.operators.similarity import (
        as_double,
        cosine_sim,
        pair_cosine_udf,
    )

    e = load(spark, sf_dir, "embeddings").limit(60)
    a = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
    rows = pairs.select(
        F.round(
            cosine_sim(as_double(F.col("va")), as_double(F.col("vb"))), 6
        ).alias("ref"),
        pair_cosine_udf(6)(F.col("va"), F.col("vb")).alias("got"),
    ).collect()
    assert len(rows) > 0
    assert all(r.ref == r.got for r in rows)


def test_lsh_bucket_udf_bitexact_vs_fold(spark, sf_dir):
    """The Arrow LSH bucketer (r20) must reproduce the per-plane sign
    fold bucket-for-bucket on the real fixture (and bucket NULL vectors
    to 0 like the fold does)."""
    from interop_spark.io import load
    from interop_spark.operators.similarity import (
        _hyperplane,
        lsh_bucket,
        lsh_bucket_udf,
    )

    e = load(spark, sf_dir, "embeddings")
    planes = [_hyperplane(i, 64) for i in range(6)]
    rows = e.select(
        lsh_bucket(F.col("embedding"), 64, 6).alias("ref"),
        lsh_bucket_udf(planes)(F.col("embedding")).alias("got"),
    ).collect()
    assert len(rows) > 0
    assert all(r.ref == r.got for r in rows)
    bad = spark.createDataFrame(
        [(1, None), (2, [0.5, 0.25])], "vec_id long, embedding array<float>"
    )
    got = bad.select(
        lsh_bucket_udf(planes)(F.col("embedding")).alias("g")
    ).collect()
    assert all(r.g == 0 for r in got)


def test_pq_encode_null_contract(spark, sf_dir):
    """A NULL or wrong-dimension embedding must yield NULL codes (the
    module's ivf_assign contract) — not silently encode as centroid 0
    and outrank real neighbors in ADC search."""
    from interop_spark.io import load
    from interop_spark.operators.pq import pq_encode, pq_train

    e = load(spark, sf_dir, "embeddings").limit(32)
    cbs = pq_train(e, m_subspaces=8, k=4, iters=0)
    bad = spark.createDataFrame(
        [(9001, None), (9002, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r.codes for r in pq_encode(bad, cbs).collect()}
    assert rows[9001] is None and rows[9002] is None
    good = {r.vec_id: r.codes for r in pq_encode(e, cbs).collect()}
    assert all(cs is not None for cs in good.values())


def test_pq_training_reduces_quantization_error(spark, sf_dir):
    """Lloyd iterations do not worsen the codebook: mean squared
    reconstruction error after 2 iterations <= after 0 (seeding only)."""
    from interop_spark.io import load
    from interop_spark.operators.pq import pq_encode, pq_train

    e = load(spark, sf_dir, "embeddings").limit(64)

    def mse(cbs):
        enc = {r.vec_id: list(r.codes) for r in pq_encode(e, cbs).collect()}
        vecs = {
            r.vec_id: [float(x) for x in r.embedding]
            for r in e.collect()
        }
        tot = 0.0
        for vid, codes in enc.items():
            recon = [x for m, c in enumerate(codes) for x in cbs[m][c]]
            tot += sum((a - b) ** 2 for a, b in zip(vecs[vid], recon))
        return tot / len(enc)

    cb0 = pq_train(e, m_subspaces=8, k=8, iters=0)
    cb2 = pq_train(e, m_subspaces=8, k=8, iters=2)
    assert mse(cb2) <= mse(cb0) + 1e-9


def test_ivf_index_full_probe_matches_brute_force(spark, sf_dir):
    """ivf_build + search with nprobe=C (every cell probed) must equal
    exact brute-force top-k — the recall ceiling; nprobe=1 results are a
    subset of the full-probe candidate pool with identical scores."""
    from interop_spark.io import load
    from interop_spark.operators.similarity import brute_force_topk, ivf_build

    e = load(spark, sf_dir, "embeddings")
    C = 4
    cent = e.where(F.col("vec_id") < C).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    idx = ivf_build(e, cent)
    query = list(e.where(F.col("vec_id") == 0).collect()[0].embedding)

    brute = [
        (r.vec_id, r.cosine_sim) for r in brute_force_topk(e, query, k=10).collect()
    ]
    full = [
        (r.vec_id, r.cosine_sim)
        for r in idx.search(query, k=10, nprobe=C).collect()
    ]
    assert full == brute

    brute_scores = dict(brute)
    one = idx.search(query, k=10, nprobe=1).collect()
    assert one[0].vec_id == 0  # the query's own vector leads its cell
    for r in one:
        if r.vec_id in brute_scores:
            assert r.cosine_sim == brute_scores[r.vec_id]


# ---------------------------------------------------------------------------
# k-means training (operators/kmeans.py)
# ---------------------------------------------------------------------------


def test_kmeans_objective_nondecreasing(spark, sf_dir):
    """Spherical k-means property: each Lloyd iteration's average-cosine
    objective is >= the previous one's (mean update = mean direction;
    cosine is scale-invariant), up to the 9-decimal rounding the
    assignment applies."""
    from pyspark.sql.functions import col

    from interop_spark.io import load
    from interop_spark.operators.kmeans import (
        centroid_update,
        kmeans_init,
        kmeans_objective,
    )
    from interop_spark.operators.similarity import ivf_assign

    e = load(spark, sf_dir, "embeddings")
    cents = kmeans_init(e, 4)
    objs = []
    for _ in range(4):
        assigned = ivf_assign(e, cents).localCheckpoint()
        objs.append(kmeans_objective(assigned, cents))
        cents = centroid_update(assigned)
    # final objective against the last update too
    assigned = ivf_assign(e, cents).localCheckpoint()
    objs.append(kmeans_objective(assigned, cents))
    for prev, nxt in zip(objs, objs[1:]):
        assert nxt >= prev - 1e-6, objs


def test_kmeans_fit_converges_and_is_fixpoint(spark, sf_dir):
    from pyspark.sql.functions import col

    from interop_spark.io import load
    from interop_spark.operators.kmeans import kmeans_fit
    from interop_spark.operators.similarity import ivf_assign

    e = load(spark, sf_dir, "embeddings")
    cents, assigned, n_iters, converged = kmeans_fit(e, k=4, max_iters=20)
    assert converged, f"did not converge in 20 iters"
    assert n_iters >= 1
    assert cents.count() <= 4  # empty cells may drop
    # fixpoint: re-assigning against the returned centroids reproduces
    # the returned assignment exactly
    re = ivf_assign(e, cents).withColumnRenamed("cell", "cell2")
    diff = (
        assigned.join(re.select("vec_id", "cell2"), "vec_id")
        .where(~col("cell").eqNullSafe(col("cell2")))
        .count()
    )
    assert diff == 0


def test_kmeans_centroid_update_drops_empty_cells_only(spark, sf_dir):
    """centroid_update output ids are a subset of assigned cells, and
    every non-empty cell yields exactly one centroid of full dimension."""
    from pyspark.sql import functions as F

    from interop_spark.io import load
    from interop_spark.operators.kmeans import kmeans_init, kmeans_one_step

    e = load(spark, sf_dir, "embeddings")
    cents = kmeans_one_step(e, kmeans_init(e, 4))
    rows = cents.select(
        "centroid_id", F.size("centroid").alias("d")
    ).collect()
    assert 1 <= len(rows) <= 4
    assert len({r.centroid_id for r in rows}) == len(rows)
    dim = len(e.select("embedding").first()[0])
    assert all(r.d == dim for r in rows)


def test_ivfpq_nprobe_all_cells_equals_full_adc(spark, sf_dir):
    """IVF-PQ with nprobe = C (every cell probed) degenerates to the
    unpartitioned ADC top-k — the recall ceiling; and with nprobe=1 the
    result is a subset of that full ranking restricted to one cell."""
    from interop_spark.io import load
    from interop_spark.operators.pq import (
        ivfpq_search,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from pyspark.sql import functions as F

    e = load(spark, sf_dir, "embeddings").limit(200)
    C, M, K = 4, 8, 4
    cent = e.where(F.col("vec_id") < C).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    cbs = pq_train(e, m_subspaces=M, k=K, iters=1)
    q = [
        float(x)
        for x in e.where(F.col("vec_id") == 1)
        .select("embedding")
        .collect()[0][0]
    ]
    full = [
        (r.vec_id, r.adc_dist)
        for r in pq_adc_topk(pq_encode(e, cbs), q, cbs, k=10).collect()
    ]
    allcells = [
        (r.vec_id, r.adc_dist)
        for r in ivfpq_search(e, cent, cbs, q, k=10, nprobe=C).collect()
    ]
    assert allcells == full
    one = ivfpq_search(e, cent, cbs, q, k=10, nprobe=1).collect()
    assert 0 < len(one) <= 10
    cells = {r.cell for r in one}
    assert len(cells) == 1
    full_dist = dict(full)
    for r in one:
        if r.vec_id in full_dist:
            assert r.adc_dist == full_dist[r.vec_id]


def test_substring_dup_runs_hits_and_specificity(spark):
    """A planted 100-char substring shared by two docs (at stride-
    congruent offsets) is recovered as one maximal run with correct
    placement; a doc with no 40-char overlap yields no pairs; and the
    hash-frequency cap suppresses boilerplate shared by every doc."""
    import random

    from interop_spark.operators.dedup import substring_dup_runs

    rng = random.Random(7)

    def rand_text(n):
        return "".join(rng.choice("abcdefghij ") for _ in range(n))

    shared = rand_text(100)
    w, s = 40, 10
    # offsets 0 and 50 are congruent mod stride
    docs = [
        (1, rand_text(0) + shared + rand_text(80)),
        (2, rand_text(50) + shared + rand_text(30)),
        (3, rand_text(200)),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    runs = substring_dup_runs(df, w=w, stride=s).collect()
    assert {(r.doc_a, r.doc_b) for r in runs} == {(1, 2)}
    [r] = runs
    # windows at doc1 pos 1,11,...,61 cover the shared region
    assert r.start_a == 1 and r.start_b == 51
    assert r.match_len == 100 and r.n_windows == 7

    # cap: the same content in MORE docs than max_hash_docs is dropped
    many = spark.createDataFrame(
        [(i, shared) for i in range(10)], ["doc_id", "text"]
    )
    assert substring_dup_runs(many, w=w, stride=s, max_hash_docs=5).count() == 0
    assert substring_dup_runs(many, w=w, stride=s, max_hash_docs=None).count() == 45


def test_winnow_catches_offset_misaligned_overlap(spark):
    """Winnowing's guarantee vs the stride grid: a shared substring at
    NON-congruent offsets (mod stride) is invisible to
    substring_dup_runs but must be caught by winnow_dup_pairs (any
    shared run >= w + k - 1 chars shares a fingerprint at any
    alignment); an unrelated doc stays unpaired."""
    import random

    from interop_spark.operators.dedup import (
        substring_dup_runs,
        winnow_dup_pairs,
    )

    rng = random.Random(11)

    def rand_text(n):
        return "".join(rng.choice("abcdefghij ") for _ in range(n))

    shared = rand_text(120)
    docs = [
        (1, shared + rand_text(60)),
        (2, rand_text(37) + shared + rand_text(40)),  # 37 % 10 != 0
        (3, rand_text(250)),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    strided = substring_dup_runs(df, w=40, stride=10).collect()
    assert strided == []  # the grid misses misaligned overlap
    winnowed = winnow_dup_pairs(df, k=20, w=8).collect()
    assert {(r.doc_a, r.doc_b) for r in winnowed} == {(1, 2)}
    [r] = winnowed
    # the 120-char run yields many shared fingerprints, first within it
    assert r.n_shared >= 3
    assert r.first_a <= 120 and 38 <= r.first_b <= 157

    # cap: fingerprints shared by MORE docs than max_hash_docs are dropped
    many = spark.createDataFrame(
        [(i, shared) for i in range(10)], ["doc_id", "text"]
    )
    assert winnow_dup_pairs(many, k=20, w=8, max_hash_docs=5).count() == 0
    assert winnow_dup_pairs(many, k=20, w=8, max_hash_docs=None).count() == 45


def test_semdedup_drops_clones_keeps_tie_lowest_id(spark, sf_dir):
    """SemDeDup semantics: an exact clone forms a tau-duplicate pair
    with equal centroid cosine, so the tie rule keeps the LOWER id (the
    original) and drops the clone; vectors without a tau-neighbor are
    all kept."""
    from interop_spark.io import load
    from interop_spark.operators.similarity import semdedup
    from pyspark.sql import functions as F

    e = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    clones = e.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    cent = e.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    kept = semdedup(
        e.select("vec_id", "embedding").unionAll(clones), cent, tau=0.95
    )
    ids = {r.vec_id for r in kept.collect()}
    assert set(range(100)) <= ids  # every original survives
    assert not any(i >= 1000 for i in ids)  # every clone dropped

    # no planted duplicates -> nothing dropped
    kept2 = semdedup(e.select("vec_id", "embedding"), cent, tau=0.9999)
    assert kept2.count() == 100


def test_nearest_centroid_udf_empty_centroids_with_sim(spark, sf_dir):
    """With no centroids, the scoring pass still returns its declared
    struct<cell, ccos9, vn> (all NULL), so semdedup keeps nothing
    instead of failing on a pandas_udf schema mismatch."""
    from interop_spark.io import load
    from interop_spark.operators.similarity import (
        nearest_centroid_udf,
        semdedup,
    )

    vecs = spark.createDataFrame(
        [(1, [0.5, 0.25]), (2, None)], "vec_id long, embedding array<float>"
    )
    rows = vecs.select(
        nearest_centroid_udf([], with_sim=True)(F.col("embedding")).alias("a")
    ).collect()
    assert [tuple(r.a) for r in rows] == [(None, None, None)] * 2

    e = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 20)
    no_cent = e.where(F.lit(False)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    assert semdedup(e.select("vec_id", "embedding"), no_cent).count() == 0


def test_query_cosine_udf_requires_a_mode():
    """Neither round_digits nor ppb is a call-site error, raised when
    the UDF is built rather than as a TypeError on an executor."""
    from interop_spark.operators.similarity import query_cosine_udf

    with pytest.raises(ValueError, match="round_digits or ppb"):
        query_cosine_udf([1.0, 0.0])


def test_ivfpq_residual_self_match_is_exact_at_seed(spark, sf_dir):
    """Residual IVF-PQ: with iters=0 the codebooks ARE the first-k
    residuals, so a seed vector's own residual encodes losslessly and
    its ADC distance to itself is exactly 0.0 — and it ranks first for
    its own query."""
    from interop_spark.io import load
    from interop_spark.operators.pq import ivfpq_residual_search
    from pyspark.sql import functions as F

    e = load(spark, sf_dir, "embeddings").limit(200)
    C = 4
    cent = e.where(F.col("vec_id") < C).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    q = [
        float(x)
        for x in e.where(F.col("vec_id") == 1)
        .select("embedding")
        .collect()[0][0]
    ]
    # vec_id=1 is among the k_codes lowest ids -> its residual is a
    # seed codeword in every subspace
    top = ivfpq_residual_search(
        e, cent, q, m_subspaces=8, k_codes=4, iters=0, k=5, nprobe=C
    ).collect()
    assert top[0].vec_id == 1
    assert top[0].adc_dist == 0.0
    assert all(r.adc_dist >= 0.0 for r in top)


def test_hashed_linear_logit_edges(spark):
    """Classifier inference edges: an empty doc scores exactly the
    bias; a single-token doc scores bias + its bucket weight; scores
    are deterministic across runs."""
    from interop_spark.operators.text import hashed_linear_logit
    from pyspark.sql import functions as F

    w = [i / 1024 for i in range(-8, 8)]
    df = spark.createDataFrame(
        [(1, ""), (2, "hello"), (3, "hello hello")],
        "doc_id long, text string",
    )
    s = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id",
            hashed_linear_logit(F.col("text"), w, bias=0.0625).alias("s"),
        ).collect()
    }
    # empty text tokenizes to [''] (split semantics, matching the
    # oracle's string_split_regex): one empty token's bucket weight
    empty_bucket = int("d41d8cd9", 16) % len(w)  # md5('') prefix
    assert s[1] == round(0.0625 + w[empty_bucket], 6)
    # mean of identical tokens == the single token's score
    assert s[2] == s[3]
    s2 = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id",
            hashed_linear_logit(F.col("text"), w, bias=0.0625).alias("s"),
        ).collect()
    }
    assert s == s2


def test_quality_classifier_null_text(spark, tmp_path):
    """NULL-text parity by construction, not by fixture luck: the
    documents fixture has no NULL text today, but fixture regeneration
    is a known drift mode. Both the Spark query and its DuckDB oracle
    must yield a NULL score and NULL keep on a NULL-text row (the
    oracle's coalesce(list_sum, 0) would otherwise score it as `bias`)."""
    import duckdb
    import pandas as pd

    from interop_spark.queries.pipeline_ext import (
        _quality_classifier_oracle,
        q_quality_classifier_filter,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["hello world", None, ""],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [11, 0, 0],
        }
    )
    d = str(tmp_path / "nulltext")
    import os

    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "documents.parquet"))

    sdf = q_quality_classifier_filter(spark, d).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * "
        f"FROM '{d}/documents.parquet'"
    )
    ddf = con.execute(_quality_classifier_oracle()).df()
    con.close()

    s = sdf.set_index("doc_id").sort_index()
    o = ddf.set_index("doc_id").sort_index()
    # doc 2 (NULL text): both engines NULL score, NULL keep
    assert pd.isna(s.loc[2, "score"]) and pd.isna(o.loc[2, "score"])
    assert pd.isna(s.loc[2, "keep"]) and pd.isna(o.loc[2, "keep"])
    # docs 1 and 3 (real + empty text): identical non-null scores
    for i in (1, 3):
        assert s.loc[i, "score"] == o.loc[i, "score"], (
            i, s.loc[i, "score"], o.loc[i, "score"],
        )
        assert bool(s.loc[i, "keep"]) == bool(o.loc[i, "keep"])


def test_pq_train_short_corpus_no_raise(spark):
    """Corpus with fewer than k vectors: first-k seeding yields a short
    seed list; the Lloyd rebuild must iterate the ACTUAL codebook length
    (a range(k) rebuild indexed past the seeds and raised IndexError)."""
    from interop_spark.operators.pq import pq_train

    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1), float(2 * i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    cbs = pq_train(df, m_subspaces=2, k=16, iters=2, dim=4)
    assert len(cbs) == 2
    # 5 seeds, never padded to k
    assert all(len(cb_m) == 5 for cb_m in cbs)
    assert all(len(cw) == 2 for cb_m in cbs for cw in cb_m)


def test_minhash_max_band_docs_drops_hot_cluster_only(spark):
    """max_band_docs (hot-band guard): a mega-cluster of identical texts
    shares every band key, so its bands exceed the cap and its pairs
    vanish from the candidate set, while pairs that share only non-hot
    bands survive; the incremental screen's history-side guard drops the
    same cluster's matches. Default None keeps exact semantics."""
    from interop_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_incremental_dedup,
    )

    boiler = "all work and no play makes jack a dull boy " * 4
    rows = [(i, boiler) for i in range(10)] + [
        (100, "spark shuffles data between stages during wide joins"),
        (101, "spark shuffles data between stages during wide joins"),
        (102, "entirely unrelated text about parquet column pruning here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_candidate_pairs(df, "doc_id", "text")
    got_all = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    assert (100, 101) in got_all
    assert sum(1 for a, b in got_all if a < 100 and b < 100) == 45  # 10C2

    capped = minhash_candidate_pairs(
        df, "doc_id", "text", max_band_docs=4
    )
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (100, 101) in got  # 2-doc bands survive the cap
    assert not any(a < 100 and b < 100 for a, b in got)  # cluster dropped

    # the same guard on the history side of an incremental screen
    new = spark.createDataFrame(
        [(200, boiler), (201, rows[10][1])], "doc_id long, text string"
    )

    def best_matches(cap):
        screened = minhash_incremental_dedup(new, df, max_band_docs=cap)
        return {r.doc_id: r.best_match for r in screened.collect()}

    assert best_matches(None) == {200: 0, 201: 100}
    assert best_matches(4) == {200: None, 201: 100}


@pytest.mark.parametrize(
    "builder",
    [
        "minhash_candidate_pairs",
        "build_minhash_index",
        "minhash_incremental_dedup",
        "stream_neardup_pairs",
    ],
)
def test_short_signature_raises_at_construction(spark, builder):
    """A signature shorter than bands*rows raises ValueError while the
    frame is built, before any Spark job, in every MinHash band-table
    builder, batch and stream alike."""
    from interop_spark.operators import dedup as dd
    from interop_spark.streaming.streams import stream_neardup_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    short = {"k": 6, "bands": 4, "rows": 3}
    build = {
        "minhash_candidate_pairs": lambda: dd.minhash_candidate_pairs(
            docs, "doc_id", "text", **short
        ),
        "build_minhash_index": lambda: dd.build_minhash_index(docs, **short),
        "minhash_incremental_dedup": lambda: dd.minhash_incremental_dedup(
            docs, docs, **short
        ),
        "stream_neardup_pairs": lambda: stream_neardup_pairs(
            docs, (docs, docs), **short
        ),
    }[builder]
    sc = spark.sparkContext
    group = f"short-signature-{builder}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=r"k=6 < bands\*rows=12"):
            build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)


def test_lsh_band_keys_equal_index_band_table(spark):
    """``lsh_band_keys`` and the index's band table are one layout: the
    exploded key array of each document equals its band-table rows."""
    from interop_spark.operators.dedup import (
        build_minhash_index,
        lsh_band_keys,
        minhash_signature,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "parquet pages carry min and max statistics"),
        ],
        "doc_id long, text string",
    )
    sig = minhash_signature(word_shingles(F.col("text"), 3), 12)
    keys = docs.select("doc_id", F.explode(lsh_band_keys(sig, 4, 3)))
    _, banded = build_minhash_index(docs, k=12, bands=4, rows=3)
    got = sorted(tuple(r) for r in keys.collect())
    assert len(got) == 12
    assert got == sorted(tuple(r) for r in banded.collect())


def test_remove_boilerplate_lines_edges(spark):
    """Boilerplate removal edge cases: a hot line vanishes from EVERY doc
    (no representative), blank lines are never counted as boilerplate
    and always survive, and an entirely-boilerplate document still emits
    a row with empty clean_text."""
    from interop_spark.operators.dedup import remove_boilerplate_lines

    hot = "Subscribe now"
    rows = [
        (1, f"alpha one\n{hot}\n\nbody a"),
        (2, f"beta two\n{hot}"),
        (3, f"gamma three\n{hot}"),
        (4, hot),  # entirely boilerplate
        (5, "delta five\nunique line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in remove_boilerplate_lines(
            df, "doc_id", "text", max_line_df=3
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].n_removed == 1 and out[1].n_lines == 4
    # blank line survives (it would otherwise be the hottest key)
    assert out[1].clean_text == "alpha one\n\nbody a"
    assert out[4].n_removed == 1 and out[4].clean_text == ""
    assert out[5].n_removed == 0


def test_merge_into_conditional_clause(spark):
    """WHEN MATCHED AND <cond> THEN UPDATE SET *: matched rows failing
    the condition keep the target row; NULL condition counts as false
    (Delta semantics); unmatched source rows still insert."""
    from interop_spark.operators.merge import merge_into_conditional

    target = spark.createDataFrame(
        [(1, 10, "t1"), (2, 20, "t2"), (3, None, "t3")],
        "k int, ver int, v string",
    )
    source = spark.createDataFrame(
        [(1, 11, "s1"), (2, 5, "s2"), (3, 9, "s3"), (4, 1, "s4")],
        "k int, ver int, v string",
    )
    out = {
        (r.k, r.ver, r.v)
        for r in merge_into_conditional(
            target, source, ["k"], "s.ver > t.ver", source_unique=True
        ).collect()
    }
    assert out == {
        (1, 11, "s1"),  # condition true → source wins
        (2, 20, "t2"),  # condition false → target kept
        (3, None, "t3"),  # NULL condition → target kept
        (4, 1, "s4"),  # not matched → insert
    }


def test_merge_into_conditional_duplicate_source_raises(spark):
    """The multiple-source-rows-match error applies to the conditional
    clause exactly as to the unconditional one."""
    import pytest as _pytest

    from interop_spark.operators.merge import merge_into_conditional

    target = spark.createDataFrame([(1, 1, "t")], "k int, ver int, v string")
    dup = spark.createDataFrame(
        [(1, 2, "a"), (1, 3, "b")], "k int, ver int, v string"
    )
    merged = merge_into_conditional(target, dup, ["k"], "s.ver > t.ver")
    with _pytest.raises(Exception, match="multiple source rows"):
        merged.collect()


def test_merge_into_conditional_batch_split_independent(spark):
    """Applying a source in ONE merge vs split across TWO sequential
    merges converges to the same target when the condition is a
    last-writer-wins guard — the foreachBatch CDC idempotence contract
    `stream_merge_upsert` relies on."""
    from interop_spark.operators.merge import merge_into_conditional

    target = spark.createDataFrame([(1, 0, "t")], "k int, ver int, v string")
    s1 = spark.createDataFrame([(1, 5, "a"), (2, 1, "b")], "k int, ver int, v string")
    s2 = spark.createDataFrame([(1, 3, "c"), (2, 2, "d")], "k int, ver int, v string")
    guard = "s.ver > t.ver"

    seq = merge_into_conditional(
        merge_into_conditional(target, s1, ["k"], guard, source_unique=True),
        s2, ["k"], guard, source_unique=True,
    )
    rev = merge_into_conditional(
        merge_into_conditional(target, s2, ["k"], guard, source_unique=True),
        s1, ["k"], guard, source_unique=True,
    )
    want = {(1, 5, "a"), (2, 2, "d")}
    assert {(r.k, r.ver, r.v) for r in seq.collect()} == want
    assert {(r.k, r.ver, r.v) for r in rev.collect()} == want


def test_pca_top_component_known_direction(spark):
    """Rank-1 data along (0.6, 0.8): the power method recovers the
    direction exactly (sign-fixed so the largest |loading| is
    positive) and the Rayleigh norm equals the variance along it
    (t in 1..4 -> var 1.25). Also pins the scale shape: the plan
    accumulates via mapInPandas partials — no N*d^2 corpus explode."""
    from interop_spark.operators.linalg import pca_top_component

    rows = [([0.6 * t, 0.8 * t],) for t in (1.0, 2.0, 3.0, 4.0)]
    e = spark.createDataFrame(rows, "embedding array<double>")
    out = pca_top_component(e)
    got = {r.dim: (r.loading, r.eigenvalue) for r in out.collect()}
    assert got == {0: (0.6, 1.25), 1: (0.8, 1.25)}

    # the iteration runs on a localCheckpoint of the covariance, so the
    # accumulation plan is asserted on the covariance stage itself
    from interop_spark.operators.linalg import covariance

    ex = covariance(e)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in ex, ex[:2000]
    assert "PosExplode" not in ex and "Generate" not in ex, ex[:2000]


def test_pca_top_component_degenerate_inputs(spark):
    """Degenerate guards (ADVICE r13): an EMPTY embeddings frame returns
    the empty (dim, loading, eigenvalue) frame instead of TypeError-ing
    on max(i)+1, and an all-constant corpus (zero covariance, Rayleigh
    norm 0) yields defined zero loadings / zero eigenvalue rather than
    NaN/Infinity."""
    from interop_spark.operators.linalg import pca_top_component

    empty = spark.createDataFrame([], "embedding array<double>")
    out = pca_top_component(empty)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "dim", "loading", "eigenvalue",
    ]

    const = spark.createDataFrame(
        [([1.0, 2.0],)] * 4, "embedding array<double>"
    )
    got = {r.dim: (r.loading, r.eigenvalue) for r in
           pca_top_component(const).collect()}
    assert got == {0: (0.0, 0.0), 1: (0.0, 0.0)}


def test_rank_sketch_merge_equals_one_pass(spark):
    """The mergeability CONTRACT of the hash-level rank sketch, pinned
    exactly (not statistically): for an arbitrary 3-way split of the
    input, merging per-part sketches yields the IDENTICAL sketch frame
    (histogram and survivor multiset) as one pass over everything —
    because histograms add, the threshold is monotone under union, and
    the survivor set is a pure function of (data set, threshold)."""
    from pyspark.sql import functions as F

    from interop_spark.operators.sketch import (
        rank_sketch_build,
        rank_sketch_merge,
    )

    full = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        (F.col("id") % 997).cast("double").alias("score"),
    )
    parts = [
        full.where(F.col("k") % 3 == i) for i in range(3)
    ]
    one_pass = rank_sketch_build(full, F.col("score"), F.col("k"))
    merged = rank_sketch_merge(
        rank_sketch_merge(
            rank_sketch_build(parts[0], F.col("score"), F.col("k")),
            rank_sketch_build(parts[1], F.col("score"), F.col("k")),
        ),
        rank_sketch_build(parts[2], F.col("score"), F.col("k")),
    )

    def as_multiset(df):
        return sorted(
            (r.kind, r.level, r.v, r.cnt) for r in df.collect()
        )

    assert as_multiset(merged) == as_multiset(one_pass)


def test_rank_sketch_quantile_accuracy(spark):
    """Estimator sanity on a known distribution: scores 0..2999 uniform;
    with capacity 128 the p50/p90 estimates must land within ~15% rank
    error of the true quantiles, and the exact-fit case (n <= capacity)
    must be EXACT with threshold 0 and weight 1."""
    from pyspark.sql import functions as F

    from interop_spark.operators.sketch import (
        rank_sketch_build,
        rank_sketch_quantiles,
    )

    big = spark.range(0, 3000).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("score")
    )
    est = {
        r.quantile: r
        for r in rank_sketch_quantiles(
            rank_sketch_build(big, F.col("score"), F.col("k"))
        ).collect()
    }
    assert est["p50"].n_total == 3000
    assert est["p50"].threshold_level >= 1
    assert est["p50"].n_kept <= 128
    # self-normalized sample quantile: ~n/sqrt(n_kept) rank noise
    assert abs(est["p50"].est_value - 1500) <= 450
    assert abs(est["p90"].est_value - 2700) <= 450

    small = spark.range(0, 100).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("score")
    )
    est_s = {
        r.quantile: r
        for r in rank_sketch_quantiles(
            rank_sketch_build(small, F.col("score"), F.col("k"))
        ).collect()
    }
    # everything fits: T = 0, every item kept, ranks exact
    assert est_s["p50"].threshold_level == 0
    assert est_s["p50"].n_kept == 100
    assert est_s["p50"].est_value == 49.0  # rank 50 of 100
    assert est_s["p90"].est_value == 89.0
    assert est_s["p99"].est_value == 98.0


def test_rank_sketch_group_quantile_per_group_isolation(spark):
    """The grouped sketch runs each group's sample INDEPENDENTLY: a big
    group must sample (T >= 1, n_kept <= capacity) while a small group
    in the same frame stays exact (T = 0, est == true quantile) —
    the property that makes per-domain thresholds honest when domain
    sizes are skewed."""
    from pyspark.sql import functions as F

    from interop_spark.operators.sketch import rank_sketch_group_quantile

    big = spark.range(0, 2000).select(
        F.lit("big").alias("src"),
        F.col("id").alias("k"),
        F.col("id").cast("long").alias("score"),
    )
    small = spark.range(0, 10).select(
        F.lit("small").alias("src"),
        (F.col("id") + 10_000).alias("k"),
        F.col("id").cast("long").alias("score"),
    )
    out = {
        r.g: r
        for r in rank_sketch_group_quantile(
            big.unionByName(small),
            F.col("src"), F.col("score"), F.col("k"),
            capacity=64, num=9, den=10,
        ).collect()
    }
    assert out["big"].threshold_level >= 1
    assert out["big"].n_kept <= 64
    assert out["big"].n_total == 2000
    # sample-quantile noise ~ n/sqrt(n_kept)
    assert abs(out["big"].est_value - 1800) <= 600
    assert out["small"].threshold_level == 0
    assert out["small"].n_kept == 10
    assert out["small"].est_value == 8  # exact p90 of 0..9


def test_word_ngrams_split_once_equals_per_ngram_split(spark, sf_dir):
    """``word_ngrams`` binds the token array once; the n-grams equal the
    form that re-tokenized the document inside the n-gram lambda, on the
    documents fixture plus empty, blank, NULL and short texts, and the
    optimized plan splits each document once."""
    from interop_spark.io import load
    from interop_spark.operators.text import tokens, word_ngrams

    def per_ngram_split(text, n):
        t = tokens(text)
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        )

    edge = spark.createDataFrame(
        [(-1, ""), (-2, "   "), (-3, None), (-4, "one"), (-5, "one two"),
         (-6, "  a\tb  c "), (-7, "x y z w")],
        "doc_id long, text string",
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = docs.unionByName(edge)
    for n in (1, 2, 3, 5):
        rows = d.select(
            "doc_id",
            word_ngrams(F.col("text"), n).alias("got"),
            per_ngram_split(F.col("text"), n).alias("ref"),
        ).collect()
        assert len(rows) == docs.count() + 7
        for r in rows:
            assert r.got == r.ref, (n, r.doc_id, r.got, r.ref)
    plan = (
        docs.select(word_ngrams(F.col("text"), 3).alias("g"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan


def test_pq_train_codebooks_equal_two_level_aggregate(spark, sf_dir):
    """The Lloyd update collects the (m, cell, pos, mu) rows and builds
    each codeword driver-side in ``pos`` order; the codebooks equal the
    two-level aggregate that assembled each codeword with
    collect_list/array_sort on the cluster."""
    from interop_spark.io import load
    from interop_spark.operators.pq import pq_codes_udf, pq_train
    from interop_spark.operators.similarity import as_double

    e = load(spark, sf_dir, "embeddings")
    M, K, ITERS, DIM = 8, 8, 2, 64
    sub = DIM // M

    seeds = (
        e.select(
            F.col("vec_id").alias("sid"),
            as_double(F.col("embedding")).alias("v"),
        )
        .orderBy("sid")
        .limit(K)
        .collect()
    )
    ref = [
        [[float(x) for x in r["v"][m * sub : (m + 1) * sub]] for r in seeds]
        for m in range(M)
    ]
    for _ in range(ITERS):
        enc = e.select(
            as_double(F.col("embedding")).alias("_v"),
            pq_codes_udf(ref)(F.col("embedding")).alias("_codes"),
        )
        rows = (
            enc.select(F.posexplode("_codes").alias("m", "cell"), "_v")
            .select(
                "m",
                "cell",
                F.posexplode(
                    F.expr(f"slice(_v, m * {sub} + 1, {sub})")
                ).alias("pos", "v"),
            )
            .groupBy("m", "cell", "pos")
            .agg(F.round(F.avg(F.col("v").cast("double")), 9).alias("mu"))
            .groupBy("m", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                    lambda s: s["mu"],
                ).alias("centroid")
            )
            .collect()
        )
        new = {
            (int(r["m"]), int(r["cell"])): [float(x) for x in r["centroid"]]
            for r in rows
        }
        ref = [
            [new.get((m, c), ref[m][c]) for c in range(len(ref[m]))]
            for m in range(M)
        ]

    got = pq_train(e, m_subspaces=M, k=K, iters=ITERS, dim=DIM)
    assert got == ref


def test_no_operator_repartitions_its_input():
    """Scan width is decided by ``io.load_spread``, or by a query's
    explicit repartition before a checkpoint; no operator module calls
    ``.repartition(``."""
    import ast
    import pathlib

    ops = pathlib.Path(__file__).resolve().parents[1] / "interop_spark" / "operators"
    hits = [
        f"{path.name}:{node.lineno}"
        for path in sorted(ops.glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "repartition"
    ]
    assert not hits, hits


# ---------------------------------------------------------------------------
# IVF-PQ search: driver-side probe and the one-pass scan against the Spark
# chains they replaced (reference twins, kept here only)
# ---------------------------------------------------------------------------


def _ivfpq_search_chain(
    df, centroids, codebooks, query, k=10, nprobe=1,
    id_col="vec_id", vec_col="embedding",
):
    """REFERENCE TWIN of ``pq.ivfpq_search``: ``ivf_assign`` →
    ``pq_encode`` carrying the cell → broadcast one-row probe join on
    Spark's ``query_cells`` → literal-table ADC top-k."""
    from interop_spark.operators.pq import pq_adc_topk, pq_encode
    from interop_spark.operators.similarity import (
        as_double,
        centroid_array,
        ivf_assign,
        l2_norm,
        query_cells,
        query_vector_literal,
    )

    assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    encoded = pq_encode(
        assigned, codebooks, id_col=id_col, vec_col=vec_col, keep=("cell",)
    )
    qv = query_vector_literal(query)
    qrow = centroid_array(centroids).select(
        query_cells(
            qv, F.col("_cents"), l2_norm(as_double(qv)), nprobe
        ).alias("_qcells")
    )
    probed = encoded.join(
        F.broadcast(qrow), F.array_contains(F.col("_qcells"), F.col("cell"))
    )
    return pq_adc_topk(
        probed, query, codebooks, k=k, id_col=id_col, keep=("cell",)
    )


def _ivfpq_residual_chain(
    df, centroids, query, m_subspaces=4, k_codes=16, iters=1, k=10,
    nprobe=1, id_col="vec_id", vec_col="embedding", dim=None,
):
    """REFERENCE TWIN of ``pq.ivfpq_residual_search``: broadcast-join
    residuals, ``pq_encode``, broadcast probe join and a cell-keyed CASE
    chain of per-cell ADC table literals."""
    from interop_spark.operators.pq import (
        _adc_table,
        _table_literal,
        pq_encode,
        pq_train,
    )
    from interop_spark.operators.similarity import (
        as_double,
        centroid_array,
        ivf_assign,
        l2_norm,
        query_cells,
        query_vector_literal,
    )

    col = F.col
    assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    cent = centroids.select(
        col("centroid_id").cast("bigint").alias("cell"),
        col("centroid").alias("_cvec"),
    )
    res = assigned.join(F.broadcast(cent), "cell").select(
        col(id_col),
        col("cell"),
        F.zip_with(
            as_double(col(vec_col)), as_double(col("_cvec")),
            lambda x, y: x - y,
        ).alias("_res"),
    )
    cbs = pq_train(
        res, m_subspaces, k_codes, iters, id_col=id_col, vec_col="_res",
        dim=dim,
    )
    encoded = pq_encode(res, cbs, id_col=id_col, vec_col="_res", keep=("cell",))
    qv = query_vector_literal(query)
    qrow = centroid_array(centroids).select(
        query_cells(
            qv, col("_cents"), l2_norm(as_double(qv)), nprobe
        ).alias("_qcells")
    )
    probed = encoded.join(
        F.broadcast(qrow), F.array_contains(col("_qcells"), col("cell"))
    )
    cent_vecs = {
        int(r[0]): [float(x) for x in r[1]]
        for r in centroids.select("centroid_id", "centroid").collect()
    }
    tbl = None
    for cell in sorted(cent_vecs):
        qres = [query[i] - cent_vecs[cell][i] for i in range(len(query))]
        lit = _table_literal(_adc_table(qres, cbs))
        cond = col("cell") == F.lit(cell)
        tbl = F.when(cond, lit) if tbl is None else tbl.when(cond, lit)
    dist = F.round(
        F.aggregate(
            F.zip_with(
                col("codes"), tbl, lambda c, row: F.element_at(row, c + 1)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        9,
    )
    return (
        probed.select(col(id_col), col("cell"), dist.alias("adc_dist"))
        .orderBy(col("adc_dist").asc(), col(id_col).asc())
        .limit(k)
    )


def _rows(df):
    """Rows as tuples with NaN made comparable (NaN == NaN)."""
    import math

    return [
        tuple(
            "NaN" if isinstance(x, float) and math.isnan(x) else x
            for x in r
        )
        for r in df.collect()
    ]


def _ivf_fixture(spark, sf, C=8):
    from interop_spark.io import load

    e = load(spark, f"/root/testdata/{sf}", "embeddings")
    cent = e.where(F.col("vec_id") < C).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    return e, cent


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_probe_cells_equals_query_cells(spark, sf):
    """The driver-side probe ranks cells exactly as Spark's
    ``query_cells`` does: a sample of real queries, a zero query (every
    similarity ties at 0.0), a query tied between two centroids with the
    same vector, and a NaN-element query, at nprobe 1, 2 and C."""
    from interop_spark.operators.similarity import (
        centroid_array,
        collect_centroids,
        l2_norm,
        probe_cells,
        query_cells,
    )

    C = 8
    e, cent = _ivf_fixture(spark, sf, C)
    # a ninth centroid repeating centroid 3 ties every query on the two
    dup = cent.unionByName(
        cent.where(F.col("centroid_id") == 3).select(
            F.lit(99).cast("long").alias("centroid_id"), "centroid"
        )
    )
    sample = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in e.where(F.col("vec_id") % 37 == 5).collect()
    ]
    assert len(sample) >= 10
    dim = len(sample[0][1])
    queries = sample + [
        (-1, [0.0] * dim),
        (-2, [float("nan")] + sample[0][1][1:]),
        (-3, [float(x) for x in cent.where(F.col("centroid_id") == 3)
              .first().centroid]),
    ]
    qdf = spark.createDataFrame(queries, "qid long, q array<double>")
    for centroids in (cent, dup):
        n_all = centroids.count()
        cents = collect_centroids(centroids)
        nprobes = (1, 2, n_all)
        got = {
            r.qid: [list(r[f"p{n}"]) for n in nprobes]
            for r in qdf.crossJoin(F.broadcast(centroid_array(centroids)))
            .select(
                "qid",
                *[
                    query_cells(
                        F.col("q"), F.col("_cents"), l2_norm(F.col("q")), n
                    ).alias(f"p{n}")
                    for n in nprobes
                ],
            )
            .collect()
        }
        for qid, q in queries:
            want = [probe_cells(q, cents, n) for n in nprobes]
            assert got[qid] == want, (qid, got[qid], want)
    # the ties resolve to the larger id, the NaN query ranks by id alone
    cents = collect_centroids(dup)
    assert probe_cells(queries[-1][1], cents, 2) == [99, 3]
    assert probe_cells(queries[-2][1], cents, 3) == [99, 7, 6]
    assert probe_cells(queries[-3][1], cents, 3) == [99, 7, 6]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_ivfpq_search_one_pass_equals_chain(spark, sf):
    """The one-pass ``ivfpq_search`` returns the assign → encode → probe
    join → ADC chain's rows, in order, at nprobe 1, 2 and C, and with a
    k larger than the probed row count."""
    from interop_spark.operators.pq import ivfpq_search, pq_train

    C = 8
    e, cent = _ivf_fixture(spark, sf, C)
    cbs = pq_train(e, m_subspaces=4, k=4, iters=1, dim=64)
    for qid in (1, 77, 250):
        q = [float(x) for x in e.where(F.col("vec_id") == qid).first().embedding]
        for nprobe, k in ((1, 10), (2, 10), (C, 10), (1, 10_000)):
            got = _rows(ivfpq_search(e, cent, cbs, q, k=k, nprobe=nprobe))
            want = _rows(
                _ivfpq_search_chain(e, cent, cbs, q, k=k, nprobe=nprobe)
            )
            assert got == want, (qid, nprobe, k)
            assert len(got) == min(k, len(want))
        # k past the probed rows: every probed row comes back
        assert 0 < len(got) < e.count()


def test_ivfpq_degenerate_vectors_behave_as_the_chain(spark, sf_dir):
    """NULL, NaN-element and wrong-dimension corpus vectors, and a
    NaN-element query, give the chains' rows in both IVF-PQ searches: a
    NULL or wrong-dimension vector has no cell and is never returned, a
    NaN-element vector joins the largest-id cell with a finite distance,
    and a NaN query scores NaN everywhere."""
    from interop_spark.operators.pq import (
        ivfpq_residual_search,
        ivfpq_search,
        pq_train,
    )

    C = 4
    e, cent = _ivf_fixture(spark, "sf0.001", C)
    e = e.where(F.col("vec_id") < 120).select("vec_id", "embedding")
    base = [
        float(x) for x in e.where(F.col("vec_id") == 5).first().embedding
    ]
    bad = spark.createDataFrame(
        [
            (9001, None),
            (9002, base[:10]),
            (9003, [float("nan")] + base[1:]),
            (9004, base[:20] + [float("nan")] + base[21:]),
        ],
        "vec_id long, embedding array<float>",
    )
    corpus = e.unionByName(bad)
    cbs = pq_train(e, m_subspaces=4, k=4, iters=1, dim=64)
    q = [float(x) for x in e.where(F.col("vec_id") == 1).first().embedding]
    q_nan = q[:3] + [float("nan")] + q[4:]
    for query in (q, q_nan):
        for nprobe in (1, C):
            got = _rows(ivfpq_search(corpus, cent, cbs, query, k=500,
                                     nprobe=nprobe))
            want = _rows(_ivfpq_search_chain(corpus, cent, cbs, query,
                                             k=500, nprobe=nprobe))
            assert got == want, (nprobe, got[:3], want[:3])
            ids = {r[0] for r in got}
            assert not ids & {9001, 9002}
            if nprobe == C:
                assert {9003, 9004} <= ids
            got = _rows(ivfpq_residual_search(
                corpus, cent, query, m_subspaces=4, k_codes=4, iters=1,
                k=500, nprobe=nprobe, dim=64,
            ))
            want = _rows(_ivfpq_residual_chain(
                corpus, cent, query, m_subspaces=4, k_codes=4, iters=1,
                k=500, nprobe=nprobe, dim=64,
            ))
            assert got == want, ("residual", nprobe, got[:3], want[:3])
    nan_rows = _rows(ivfpq_search(corpus, cent, cbs, q_nan, k=5, nprobe=C))
    assert [r[2] for r in nan_rows] == ["NaN"] * 5


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_ivfpq_residual_search_equals_chain(spark, sf):
    """Residual IVF-PQ over the one-pass scan returns the broadcast-join
    chain's rows at nprobe 1, 2 and C."""
    from interop_spark.operators.pq import ivfpq_residual_search

    C = 8
    e, cent = _ivf_fixture(spark, sf, C)
    q = [float(x) for x in e.where(F.col("vec_id") == 1).first().embedding]
    for nprobe in (1, 2, C):
        kw = dict(m_subspaces=4, k_codes=4, iters=1, k=10, nprobe=nprobe,
                  dim=64)
        assert _rows(ivfpq_residual_search(e, cent, q, **kw)) == _rows(
            _ivfpq_residual_chain(e, cent, q, **kw)
        ), nprobe
