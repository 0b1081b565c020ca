"""Training-data-pipeline queries over ``documents`` / ``embeddings``
(BASELINE.json north star), each with a DuckDB oracle twin generated from
the SAME Python constants (stopword lists, hash seeds, band layout), so the
two sides cannot drift.

Dedup queries union the corpus with a deterministic mutation of itself
(offset ids) so the near-/exact-duplicate sets are non-empty at every scale
factor — a dedup query whose expected output is empty would be a vacuous
correctness check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from interop_spark.io import load, load_spread
from interop_spark.operators import dedup as dd
from interop_spark.operators import similarity as sim
from interop_spark.operators import text as tx

DUP_OFFSET = 1_000_000
MINHASH_K = 12
BANDS = 4
ROWS = 3
SHINGLE_N = 3
EMB_DIM = 64
N_CENTROIDS = 8
NPROBE = 3
# near-dup corpus = 2 × 300 vectors; plane count derives from the scaling
# rule (ceil(log2(600/16)) = 6) rather than a hard-coded constant — at a
# bigger corpus the same rule yields more planes, keeping buckets O(1)
NEARDUP_CORPUS = 600
NEARDUP_PLANES = 6

# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + mean token length (SURVEY
    north-star text ops)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count(col("text")).alias("n_tokens"),
        tx.avg_token_len(col("text")).alias("avg_token_len"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length band + stopword ratio − punctuation excess."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length(col("text")).alias("n_chars"),
        tx.stopword_ratio(col("text"), "en").alias("stopword_ratio"),
        tx.quality_score(col("text")).alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID heuristic with deterministic tie-break.
    Tokenizes once, folds ALL per-language counters in one pass over the
    tokens, materializes the score array, then argmaxes it — the
    re-traverse-per-language form cost ~20 array passes per row."""
    # load_spread: the per-row tokenize + 20-language counter fold is
    # the whole query
    d = load_spread(spark, sf_dir, "documents")
    scores = d.select(
        "doc_id",
        tx.lang_scores_of_tokens(tx.tokens(col("text"))).alias("sc"),
    )
    return scores.select(
        "doc_id", tx.lang_pred_of_scores(col("sc")).alias("lang_pred")
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 fingerprint over normalized text (exact-dedup key)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", tx.fingerprint(col("text")).alias("fp"))


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


def _with_exact_dups(d: DataFrame) -> DataFrame:
    """documents ∪ copy(ids offset): every text appears exactly twice."""
    clone = d.select(
        (col("doc_id") + DUP_OFFSET).alias("doc_id"),
        # whitespace/case mutation: the normalized fingerprint must match
        F.upper(col("text")).alias("text"),
    )
    return d.select("doc_id", "text").unionByName(clone)


def _with_near_dups(d: DataFrame, limit: int) -> DataFrame:
    """A small slice of documents ∪ near-dup mutations (first word dropped):
    guaranteed high-Jaccard pairs for the LSH path."""
    base = d.where(col("doc_id") < limit).select("doc_id", "text")
    mutated = base.select(
        (col("doc_id") + DUP_OFFSET).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    return base.unionByName(mutated)


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: normalized-fingerprint groupBy (uniform-shuffle
    hash key), representative id + group size."""
    d = _with_exact_dups(load(spark, sf_dir, "documents"))
    return dd.exact_dup_groups(d, "text", "doc_id")


def q_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates with exact-Jaccard verification:
    shingle → 12-hash signature → 4 bands → band-key equi-join."""
    # plain load: the slice below is bounded (100 docs) at every scale
    d = _with_near_dups(load(spark, sf_dir, "documents"), limit=100)
    return dd.minhash_candidate_pairs(
        d, "doc_id", "text", k=MINHASH_K, bands=BANDS, rows=ROWS,
        shingle_n=SHINGLE_N,
    ).where(col("jaccard_sim") >= 0.5)


INC_HIST_N = 150  # history corpus: doc_id < 150
INC_MUT_N = 50  # new batch: mutations of doc_id < 50 + originals 150-199


def q_minhash_incremental_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental near-dup screening (round-12): a NEW batch — 50
    first-word-dropped mutations of history docs (planted near-dups)
    plus 50 genuinely unseen docs — probed against a 150-doc HISTORY
    corpus via a new×history band join (never history×history). The
    mutations resolve to their originals (best_match = source id);
    the unseen docs come back is_dup=false."""
    d = load(spark, sf_dir, "documents")
    history = d.where(col("doc_id") < INC_HIST_N).select("doc_id", "text")
    new = (
        d.where(col("doc_id") < INC_MUT_N)
        .select(
            (col("doc_id") + DUP_OFFSET).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
        .unionByName(
            d.where(
                (col("doc_id") >= INC_HIST_N) & (col("doc_id") < 200)
            ).select("doc_id", "text")
        )
    )
    return dd.minhash_incremental_dedup(
        new, history, k=MINHASH_K, bands=BANDS, rows=ROWS,
        shingle_n=SHINGLE_N,
    )


def q_stream_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental near-dup screening (round-12): the same
    new-batch fixture as ``minhash_incremental_dedup`` arrives as a
    file STREAM (two sources unioned — mutations + unseen docs, the
    at-least-once multi-feed shape) and probes the STATIC prebuilt
    history index via a stream-static join; availableNow → memory sink,
    so emitted (new, hist, jaccard) pairs must equal the batch
    construction's verified candidates exactly — stream==batch by
    shared hash/band/verify expressions."""
    from interop_spark.io import load_stream
    from interop_spark.streaming.streams import drain, stream_neardup_pairs

    history = (
        load(spark, sf_dir, "documents")
        .where(col("doc_id") < INC_HIST_N)
        .select("doc_id", "text")
    )
    idx = dd.build_minhash_index(history)
    mut = (
        load_stream(spark, sf_dir, "documents")
        .where(col("doc_id") < INC_MUT_N)
        .select(
            (col("doc_id") + DUP_OFFSET).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    fresh = (
        load_stream(spark, sf_dir, "documents")
        .where((col("doc_id") >= INC_HIST_N) & (col("doc_id") < 200))
        .select("doc_id", "text")
    )
    return drain(stream_neardup_pairs(mut.unionByName(fresh), idx))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (near-dup fingerprint; banded Hamming
    join reuses the minhash LSH shape)."""
    d = load(spark, sf_dir, "documents").where(col("doc_id") < 200)
    th = d.select("doc_id", dd.token_hashes(col("text")).alias("th"))
    return th.select("doc_id", dd.simhash_of_hashes(col("th")).alias("simhash"))


def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates at the scale-safe width: docs sharing
    any 30-bit band of their 120-bit simhash (2 bigint halves) become
    candidates via a band-key SELF-JOIN, verified by Hamming ≤ 12 over the
    full 120 bits. 30-bit bands give a ~1B key space per band (bucket
    occupancy stays O(1) as the corpus grows; the round-1 15-bit bands
    saturated at 32k keys), and the self-join shuffles only
    (band, doc_id, sh) — AQE-splittable, no per-bucket collect_list."""
    # plain load: the slice below is bounded (60 docs) at every scale
    d = _with_near_dups(load(spark, sf_dir, "documents"), limit=60)
    # shared operator body (operators/dedup.py:simhash_candidate_pairs);
    # max_band_docs=None → exact candidate semantics, the oracle's
    return dd.simhash_candidate_pairs(
        d, "doc_id", "text", hamming_max=12, max_band_docs=None
    )


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS (connected components by
    min-label propagation): the step that turns pairwise candidates into
    'keep one representative per cluster'. Oracle is a DuckDB recursive
    CTE over the same pair set."""
    d = _with_near_dups(load(spark, sf_dir, "documents"), limit=40)
    pairs = dd.minhash_candidate_pairs(
        d, "doc_id", "text", k=MINHASH_K, bands=BANDS, rows=ROWS,
        shingle_n=SHINGLE_N,
    ).where(col("jaccard_sim") >= 0.5)
    return dd.dedup_clusters(pairs)


def q_neardup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pair set and (doc_id, cluster) contract as
    ``neardup_clusters``, computed with the large-star/small-star
    algorithm (Kiveris et al., SoCC 2014) — the diameter-independent
    connected-components path for adversarially long duplicate chains at
    100 TB. Shares the recursive-CTE oracle with the propagation
    variant: both must produce the identical component labeling."""
    d = _with_near_dups(load(spark, sf_dir, "documents"), limit=40)
    pairs = dd.minhash_candidate_pairs(
        d, "doc_id", "text", k=MINHASH_K, bands=BANDS, rows=ROWS,
        shingle_n=SHINGLE_N,
    ).where(col("jaccard_sim") >= 0.5)
    return dd.dedup_clusters_star(pairs)


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish piece counts per document — the token-budget
    statistic a training pipeline sizes corpora with."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count(col("text")).alias("n_ws_tokens"),
        tx.bpe_ish_token_count(col("text")).alias("n_bpe_tokens"),
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·(N/df) — rational
    scoring (no ln) so both engines compute bit-identical doubles; output
    carries only (doc, rank, term) so no float crosses the hash. Scale
    shape: explode → two key-partitioned aggregations → term-key join →
    WindowGroupLimit per doc."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents").where(col("doc_id") < 200)
    toks = d.select("doc_id", F.explode(tx.tokens(col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            (col("tf") * col("n_docs") / col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        col("score").desc(), col("term").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(col("term_rank") <= 3)
        .select("doc_id", "term_rank", "term")
    )


def q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched k-NN: 4 query vectors at once — broadcast the query set,
    score every (vector, query) pair, WindowGroupLimit keeps top-5 per
    query (one shuffle on query_id)."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "embeddings")
    q = e.where(col("vec_id") < 4).select(
        col("vec_id").alias("query_id"),
        col("embedding").alias("qvec"),
        sim.l2_norm(sim.as_double(col("embedding"))).alias("_nq"),
    )
    scored = e.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(
            sim.cosine_sim_given_norms(
                sim.as_double(col("embedding")),
                sim.as_double(col("qvec")),
                sim.l2_norm(sim.as_double(col("embedding"))),
                col("_nq"),
            ),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        col("cosine_sim").desc(), col("vec_id").asc()
    )
    return scored.withColumn("knn_rank", F.row_number().over(w)).where(
        col("knn_rank") <= 5
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan shape (multimodal §): every 10th frame
    index per media row via an exploded sequence — the decode would hang
    off the exploded rows, parallelizing by frame, not by video."""
    from interop_spark.operators import multimodal as mm

    d = load(spark, sf_dir, "documents").where(col("doc_id") < 50)
    media = d.select(
        col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        ((col("doc_id") % 97) + 1).cast("int").alias("n_frames"),
    )
    return mm.frame_sample(media, every_n=10)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling: each source stratum gets its
    own rate, membership decided by md5(doc_id) bucket — rerun-stable and
    engine-independent (rand()/TABLESAMPLE are neither), so a training
    pipeline can reproduce the exact corpus cut. Outputs per-stratum
    total/sampled accounting."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    # per-stratum rate derived from the stratum key itself (10-49%)
    rate = (F.length(col("source")) * 7) % 40 + 10
    return (
        d.select("source", bucket.alias("bucket"), rate.alias("rate"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_if(col("bucket") < col("rate")).alias("n_sampled"),
        )
    )


def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only multimodal aggregate: the scan must touch only the
    small typed columns, never a binary payload (column pruning is what
    makes media catalogs queryable at 100 TB)."""
    from interop_spark.operators import multimodal as mm

    d = load(spark, sf_dir, "documents")
    media = d.select(
        col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        ((col("doc_id") % 640) + 1).cast("int").alias("width"),
        ((col("doc_id") % 480) + 1).cast("int").alias("height"),
    )
    out = mm.media_stats(media)
    return out.select(
        "kind", "n_media", F.round(col("avg_pixels"), 4).alias("avg_pixels")
    )


def q_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image header decode, driver-verified: build actual PNG /
    JPEG / GIF container bytes JVM-side (hex expressions → to_binary;
    dims are closed-form functions of doc_id), parse them back with the
    stdlib struct walker in ``multimodal.image_dims`` (mapInPandas), and
    validate parsed width/height against the declared metadata.

    Triangulated correctness: blob CONSTRUCTION is Spark hex/concat
    expressions, PARSING is Python struct over the real container
    layouts, and the oracle recomputes the dims relationally from
    doc_id — a bug in either side breaks the match. pytest additionally
    pins the parser against fixed real bytes (incl. a full zlib PNG
    pixel decode) in test_multimodal_decode.py."""
    from interop_spark.operators import multimodal as mm

    d = load(spark, sf_dir, "documents").where(col("doc_id") < 300)
    w = (col("doc_id") % 640 + 1).cast("int")
    h = (col("doc_id") % 480 + 1).cast("int")
    w16, h16 = F.lpad(F.hex(w), 4, "0"), F.lpad(F.hex(h), 4, "0")
    w32, h32 = F.lpad(F.hex(w), 8, "0"), F.lpad(F.hex(h), 8, "0")
    # PNG: signature + IHDR(len 13) + u32be dims + depth8/RGB/std flags
    png = F.concat(
        F.lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        w32, h32, F.lit("0802000000"),
    )
    # JPEG: SOI + APP0(JFIF, 14-byte payload) + SOF0(len 17: precision,
    # u16be height THEN width, 3 components) — the walker must skip APP0
    jpeg = F.concat(
        F.lit("FFD8" + "FFE0" + "0010" + "4A46494600" + "00" * 9
              + "FFC0" + "0011" + "08"),
        h16, w16, F.lit("03" + "011100" + "021101" + "031101"),
    )
    # GIF89a: logical-screen descriptor carries u16 LITTLE-endian dims
    def le(be16):
        return F.concat(F.substring(be16, 3, 2), F.substring(be16, 1, 2))

    gif = F.concat(F.lit("474946383961"), le(w16), le(h16), F.lit("F70000"))
    media = d.select(
        col("doc_id").alias("media_id"),
        F.to_binary(
            F.element_at(
                F.array(png, jpeg, gif), (col("doc_id") % 3 + 1).cast("int")
            ),
            F.lit("hex"),
        ).alias("data"),
        w.alias("_mw"),
        h.alias("_mh"),
    )
    parsed = mm.image_dims(media)
    return parsed.join(media.select("media_id", "_mw", "_mh"), "media_id").select(
        "media_id",
        "format",
        "width",
        "height",
        ((col("width") == col("_mw")) & (col("height") == col("_mh"))).alias(
            "dims_ok"
        ),
    )


def q_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style probe: C coarse centroids (vec_id < N_CENTROIDS), assign
    every vector to its nearest centroid SHUFFLE-FREE (one-row broadcast
    centroid array + per-row ``F.aggregate`` argmax — the round-1 version
    shuffled an n×C expansion through a groupBy and re-join), then search
    only the query's cell — the scan touches ~1/C of the corpus at
    scale."""
    # plain load: the assignment is Arrow-vectorized
    # (nearest_centroid_udf), so a 32-way split of the small local table
    # just pays 32 Python round-trips
    e = load(spark, sf_dir, "embeddings")
    cent = e.where(col("vec_id") < N_CENTROIDS).select(
        col("vec_id").alias("centroid_id"), col("embedding").alias("centroid")
    )
    # Materialize the assignment: this IS the IVF index build (computed
    # once, probed many times — on a cluster it would be a written
    # table). Without it the assignment subtree is referenced twice
    # (probe side + query-cell lookup) AND the probe join's inferred
    # IsNotNull(cell) re-evaluates the whole argmax fold inside the join
    # condition — the r2 plan paid the fold 3×.
    assigned = sim.ivf_assign(e, cent).localCheckpoint()
    q = e.where(col("vec_id") == 0).select(
        col("embedding").alias("qvec"),
        sim.l2_norm(sim.as_double(col("embedding"))).alias("_nq"),
    )
    probed = assigned.join(
        F.broadcast(
            assigned.where(col("vec_id") == 0).select(
                col("cell").alias("qcell")
            )
        ),
        col("cell") == col("qcell"),
    )
    return (
        probed.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "cell",
            F.round(
                sim.cosine_sim_given_norms(
                    sim.as_double(col("embedding")),
                    sim.as_double(col("qvec")),
                    sim.l2_norm(sim.as_double(col("embedding"))),
                    col("_nq"),
                ),
                6,
            ).alias("cosine_sim"),
        )
        .orderBy(col("cosine_sim").desc(), col("vec_id").asc())
        .limit(5)
    )


def q_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF multi-probe: rank the broadcast centroid array against the
    query row, probe the NPROBE nearest cells (the standard recall knob —
    a hard cell boundary drops neighbors that fall just across it), then
    exact top-5 within the probed cells. The scan still touches
    ~NPROBE/C of the corpus at scale; the probe join is a broadcast of
    ONE query row carrying its cell array."""
    e = load(spark, sf_dir, "embeddings")
    cent = e.where(col("vec_id") < N_CENTROIDS).select(
        col("vec_id").alias("centroid_id"), col("embedding").alias("centroid")
    )
    assigned = sim.ivf_assign(e, cent).localCheckpoint()
    cents = sim.centroid_array(cent)
    q = e.where(col("vec_id") == 0).select(
        col("embedding").alias("qvec"),
        sim.l2_norm(sim.as_double(col("embedding"))).alias("_nq"),
    )
    qrow = q.crossJoin(F.broadcast(cents)).select(
        "qvec",
        "_nq",
        sim.query_cells(
            col("qvec"), col("_cents"), col("_nq"), NPROBE
        ).alias("qcells"),
    )
    return (
        assigned.join(
            F.broadcast(qrow), F.array_contains(col("qcells"), col("cell"))
        )
        .select(
            "vec_id",
            "cell",
            F.round(
                sim.cosine_sim_given_norms(
                    sim.as_double(col("embedding")),
                    sim.as_double(col("qvec")),
                    sim.l2_norm(sim.as_double(col("embedding"))),
                    col("_nq"),
                ),
                6,
            ).alias("cosine_sim"),
        )
        .orderBy(col("cosine_sim").desc(), col("vec_id").asc())
        .limit(5)
    )


CLEAN_LIMIT = 40
CLEAN_EXACT_N = 20
CLEAN_SEM_N = 10
CLEAN_EXACT_OFF = 2_000_000
CLEAN_SEM_OFF = 3_000_000
CLEAN_TAU = 0.95


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shape a real 100 TB corpus-cleaning job runs: the dedup
    family COMPOSED end-to-end — exact fingerprint dedup → MinHash+LSH
    near-dup → SemDeDup semantic dedup — emitting per-stage accounting
    (n_in / n_dropped / n_out), each stage consuming the previous
    stage's keep-list.

    The corpus is the base slice ∪ three planted duplicate families,
    one per stage: exact clones (same text), near clones (first word
    dropped — high Jaccard), and semantic clones (word order REVERSED —
    near-zero 3-gram shingle overlap, so MinHash cannot see them, but
    the embedding is the parent's, so SemDeDup can). Stage drops are
    pairwise (near-dup: drop the larger id of a verified >= 0.5 pair;
    semantic: semdedup's documented chain-over-drop rule).

    Scale shape: each stage's keep-list is localCheckpoint-ed — the
    local-mode analog of the materialized table a cluster pipeline
    writes between stages (each list feeds both the next stage and the
    accounting aggregate, so recomputation would double every stage)."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    base = d.where(col("doc_id") < CLEAN_LIMIT).select("doc_id", "text")
    exact_c = base.where(col("doc_id") < CLEAN_EXACT_N).select(
        (col("doc_id") + CLEAN_EXACT_OFF).alias("doc_id"), "text"
    )
    near_c = base.select(
        (col("doc_id") + DUP_OFFSET).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    sem_c = base.where(col("doc_id") < CLEAN_SEM_N).select(
        (col("doc_id") + CLEAN_SEM_OFF).alias("doc_id"),
        F.concat_ws(
            " ", F.reverse(F.split(F.trim(col("text")), r"\s+"))
        ).alias("text"),
    )
    # repartition before the checkpoint: the union of four 1-split scan
    # branches otherwise materializes as 4 partitions and every
    # downstream hash stage (fingerprint, shingles) runs 4-wide on a
    # 32-core session (r19 optimization round; scale-neutral — a real
    # corpus arrives wide already and a cluster pipeline stages this
    # frame to a table regardless)
    corpus = (
        base.unionByName(exact_c)
        .unionByName(near_c)
        .unionByName(sem_c)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )

    # stage 1: exact — keep the min id per normalized fingerprint
    fp = corpus.select("doc_id", "text", tx.fingerprint(col("text")).alias("_fp"))
    reps = fp.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))
    keep1 = fp.join(reps, ["_fp", "doc_id"]).select("doc_id", "text")
    keep1 = keep1.localCheckpoint()

    # stage 2: near-dup — drop the larger id of every verified pair
    pairs = dd.minhash_candidate_pairs(
        keep1, "doc_id", "text", k=MINHASH_K, bands=BANDS, rows=ROWS,
        shingle_n=SHINGLE_N,
    ).where(col("jaccard_sim") >= 0.5)
    drop2 = pairs.select(col("doc_b").alias("doc_id")).distinct()
    keep2 = keep1.join(drop2, "doc_id", "left_anti").localCheckpoint()

    # stage 3: semantic — semdedup over the survivors' embeddings
    # (offsets are multiples of 1M, so parent vec_id = doc_id % 1M)
    cent = e.where(col("vec_id") < N_CENTROIDS).select(
        col("vec_id").alias("centroid_id"), col("embedding").alias("centroid")
    )
    vecs = (
        keep2.select("doc_id", (col("doc_id") % 1_000_000).alias("_bid"))
        .join(e.select(col("vec_id").alias("_bid"), "embedding"), "_bid")
        .select("doc_id", "embedding")
    )
    kept3 = sim.semdedup(vecs, cent, tau=CLEAN_TAU, id_col="doc_id")

    def cnt(df, alias):
        return df.agg(F.count(F.lit(1)).alias(alias))

    def row(n_in_df, n_out_df, name):
        return (
            cnt(n_in_df, "n_in")
            .crossJoin(cnt(n_out_df, "n_out"))
            .select(
                F.lit(name).alias("stage"),
                "n_in",
                (col("n_in") - col("n_out")).alias("n_dropped"),
                "n_out",
            )
        )

    return (
        row(corpus, keep1, "1_exact")
        .unionAll(row(keep1, keep2, "2_minhash"))
        .unionAll(row(keep2, kept3, "3_semdedup"))
    )


RECALL_K = 10
RECALL_NPROBES = (1, 2, 4)


def q_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN retrieval-quality instrumentation: recall@{RECALL_K} of the
    IVF probe against exact brute-force ground truth, at nprobe 1/2/4.
    Both sides are deterministic (round-9 ranking, id tie-breaks), so
    the whole recall curve is a value-hashed oracle row — a codebook or
    nprobe regression that silently hurts retrieval quality flips this
    row red even though every individual search row would still "work".

    Shape at scale: ground truth is one brute-force scan (the thing IVF
    exists to avoid — priced here once, as instrumentation); each probe
    reuses the checkpointed cell assignment and touches ~nprobe/C of the
    corpus; the per-probe hit-count joins are on {RECALL_K}-row sets."""
    e = load(spark, sf_dir, "embeddings")
    cent = e.where(col("vec_id") < N_CENTROIDS).select(
        col("vec_id").alias("centroid_id"), col("embedding").alias("centroid")
    )
    assigned = sim.ivf_assign(e, cent).localCheckpoint()
    cents = sim.centroid_array(cent)
    q = e.where(col("vec_id") == 0).select(
        col("embedding").alias("qvec"),
        sim.l2_norm(sim.as_double(col("embedding"))).alias("_nq"),
    )

    def scored_ids(df):
        """Round-9 cosine ranking with the id tie-break, top-RECALL_K."""
        return (
            df.crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                F.round(
                    sim.cosine_sim_given_norms(
                        sim.as_double(col("embedding")),
                        sim.as_double(col("qvec")),
                        sim.l2_norm(sim.as_double(col("embedding"))),
                        col("_nq"),
                    ),
                    9,
                ).alias("_c9"),
            )
            .orderBy(col("_c9").desc(), col("vec_id").asc())
            .limit(RECALL_K)
            .select("vec_id")
        )

    exact = scored_ids(e).localCheckpoint()
    parts = []
    for n in RECALL_NPROBES:
        qrow = q.crossJoin(F.broadcast(cents)).select(
            "qvec",
            sim.query_cells(col("qvec"), col("_cents"), col("_nq"), n).alias(
                "qcells"
            ),
        )
        cand = assigned.join(
            F.broadcast(qrow), F.array_contains(col("qcells"), col("cell"))
        ).select("vec_id", "embedding")
        hits = (
            scored_ids(cand)
            .join(exact, "vec_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        parts.append(
            hits.select(
                F.lit(n).alias("nprobe"),
                F.lit(RECALL_K).alias("k"),
                col("n_hit"),
                F.round(col("n_hit") / F.lit(float(RECALL_K)), 6).alias(
                    "recall"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step the near-dup stack exists for: candidate pairs → clusters
    → KEEP ONE REPRESENTATIVE per duplicate cluster (the min doc id) —
    unpaired documents survive untouched. Uses the diameter-independent
    star clusterer, so a pathological duplicate chain cannot silently
    split (and over-retain) at scale."""
    d = _with_near_dups(load(spark, sf_dir, "documents"), limit=40)
    pairs = dd.minhash_candidate_pairs(
        d, "doc_id", "text", k=MINHASH_K, bands=BANDS, rows=ROWS,
        shingle_n=SHINGLE_N,
    ).where(col("jaccard_sim") >= 0.5)
    clusters = dd.dedup_clusters_star(pairs)
    non_reps = clusters.where(col("doc_id") != col("cluster")).select("doc_id")
    return d.select("doc_id").join(non_reps, "doc_id", "left_anti")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over a bounded id-range self-join (the
    verification kernel of near-dedup, without the LSH filter)."""
    d = load(spark, sf_dir, "documents").where(col("doc_id") < 30)
    sh = d.select(
        "doc_id", dd.word_shingles(col("text"), SHINGLE_N).alias("sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    return a.join(b, col("a.doc_id") < col("b.doc_id")).select(
        col("a.doc_id").alias("doc_a"),
        col("b.doc_id").alias("doc_b"),
        dd.jaccard(col("a.sh"), col("b.sh")).alias("jaccard_sim"),
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 embedding (broadcast
    query vector; final step is TakeOrderedAndProject). The query norm is
    computed once on the broadcast row, not re-derived per scored vector
    (same expression/order → bit-identical rounded values)."""
    e = load(spark, sf_dir, "embeddings")
    # kept as the interpreted fold chain (r20 negative result: the
    # Arrow query_cosine_udf version measured 0.43-0.56 s/rep vs 0.31
    # here — one bounded query collect + the Python round-trip cost
    # more than the fold saves on this single cheap pass; the Arrow
    # scorer wins only where the fold work per action exceeds the
    # ~0.2 s Python boundary cost, see lsh_bucket_sizes/mmr_rerank)
    q = e.where(col("vec_id") == 0).select(
        col("embedding").alias("qvec"),
        sim.l2_norm(sim.as_double(col("embedding"))).alias("_nq"),
    )
    return (
        e.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                sim.cosine_sim_given_norms(
                    sim.as_double(col("embedding")),
                    sim.as_double(col("qvec")),
                    sim.l2_norm(sim.as_double(col("embedding"))),
                    col("_nq"),
                ),
                6,
            ).alias("cosine_sim"),
        )
        .orderBy(col("cosine_sim").desc(), col("vec_id").asc())
        .limit(10)
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: vectors sharing a hyperplane
    LSH bucket with cosine ≥ 0.99. The corpus is unioned with exact clones
    (id+offset) so the expected duplicate set is non-empty at every scale.

    Scale shape: the plane count comes from ``recommended_n_planes`` (log2
    of corpus/target — buckets stay O(1) as data grows); candidates come
    from a SELF-JOIN on the bucket id over a compact (vec_id, bucket)
    projection (AQE-splittable; no per-bucket collect_list of vectors, so
    no task-sized bucket array), and embeddings are re-joined only for the
    surviving candidate pairs' cosine verification. The bucket table is
    checkpointed, so each vector's plane dot products run once, not once
    per self-join side."""
    n_planes = sim.recommended_n_planes(NEARDUP_CORPUS, target_bucket_size=16)
    if n_planes != NEARDUP_PLANES:  # oracle twin inlines NEARDUP_PLANES planes
        raise RuntimeError(
            f"embedding_neardup: recommended_n_planes gave {n_planes} but the "
            f"oracle twin is built for {NEARDUP_PLANES}; update NEARDUP_PLANES "
            f"and the oracle SQL together"
        )
    e = load(spark, sf_dir, "embeddings").where(col("vec_id") < 300)
    clones = e.select(
        (col("vec_id") + DUP_OFFSET).alias("vec_id"), "embedding"
    )
    u = e.select("vec_id", "embedding").unionByName(clones)
    # Arrow-vectorized signature + pair-verification passes: the
    # interpreted per-plane dot folds and the per-pair cosine fold were
    # the query's executor cost; numpy does the identical arithmetic on
    # whole batches (bit-exactness pinned in tests/test_operators.py)
    planes = [sim._hyperplane(i, EMB_DIM) for i in range(n_planes)]
    banded = u.select(
        "vec_id",
        sim.lsh_bucket_udf(planes)(col("embedding")).alias("bucket"),
    ).localCheckpoint()
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (col("l.bucket") == col("r.bucket"))
            & (col("l.vec_id") < col("r.vec_id")),
        )
        .select(
            col("l.vec_id").alias("vec_a"), col("r.vec_id").alias("vec_b")
        )
    )
    a = u.select(col("vec_id").alias("vec_a"), col("embedding").alias("_e_a"))
    b = u.select(col("vec_id").alias("vec_b"), col("embedding").alias("_e_b"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            sim.pair_cosine_udf(6)(col("_e_a"), col("_e_b")).alias(
                "cosine_sim"
            ),
        )
        .where(col("cosine_sim") >= 0.99)
        .distinct()
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (posexplode → groupBy label,dim):
    the aggregation kernel of IVF training / k-means steps."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (col("pos") + 1).alias("dim"))
        .agg(F.round(F.avg(col("v").cast("double")), 4).alias("avg_component"))
    )


def q_lsh_bucket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket histogram (md5-derived deterministic
    planes — the bucketing step of approximate NN at scale)."""
    # plain load: the Arrow-vectorized plane projection is cheap per
    # row, so a spread exchange of the small local table buys nothing
    e = load(spark, sf_dir, "embeddings")
    planes = [sim._hyperplane(i, EMB_DIM) for i in range(6)]
    return (
        e.select(
            sim.lsh_bucket_udf(planes)(col("embedding")).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def q_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on a projection (the J3 dedupe intent in its
    idiomatic one-call form; DISTINCT twin in the oracle)."""
    d = _with_exact_dups(load(spark, sf_dir, "documents"))
    return d.select(
        tx.fingerprint(col("text")).alias("fp")
    ).dropDuplicates(["fp"])


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test assignment by md5-derived
    bucket — the reproducible split a training pipeline needs (stable
    under re-runs and engine-independent, unlike rand() or engine hash
    functions). Outputs per-split counts."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "validation")
        .otherwise("test")
    )
    return d.select(split.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM WAV decode, driver-verified — the audio analog of
    ``image_dims``: build actual RIFF/WAVE containers JVM-side (hex
    expressions → to_binary; header fields and 16-bit LE samples are
    closed-form functions of doc_id), parse them back with the stdlib
    struct walker in ``multimodal.audio_stats`` (mapInPandas), and the
    oracle recomputes every parsed field — including the exact integer
    sum of squared samples and the peak — relationally from doc_id.
    Blob CONSTRUCTION (Spark expressions), PARSING (RIFF chunk walk +
    struct), and the ORACLE are three independent encodings of the
    layout; a bug in any one breaks the value-hash. pytest pins the
    parser against stdlib ``wave``-written bytes in
    test_multimodal_decode.py."""
    from interop_spark.operators import multimodal as mm

    d = load(spark, sf_dir, "documents").where(col("doc_id") < 300)

    def le16(v):  # u16 little-endian hex of a (possibly negative) value
        be = F.lpad(F.hex(F.pmod(v, F.lit(65536))), 4, "0")
        return F.concat(F.substring(be, 3, 2), F.substring(be, 1, 2))

    def le32(v):
        be = F.lpad(F.hex(v.cast("long")), 8, "0")
        return F.concat(
            F.substring(be, 7, 2), F.substring(be, 5, 2),
            F.substring(be, 3, 2), F.substring(be, 1, 2),
        )

    n = (col("doc_id") % 4 + 2).cast("int")  # 2..5 frames
    sr = (F.lit(8000) + (col("doc_id") % 8) * 1000).cast("int")
    data_len = n * 2
    samples = F.concat(*[
        F.when(
            F.lit(i) < n,
            le16((col("doc_id") * 37 + i * 101) % 1024 - 512),
        ).otherwise(F.lit(""))
        for i in range(5)
    ])
    wav_hex = F.concat(
        F.lit("52494646"), le32(data_len + 36),            # RIFF + riff size
        F.lit("57415645" + "666D7420" + "10000000"         # WAVE, fmt , 16
              + "0100" + "0100"),                          # PCM tag, mono
        le32(sr), le32(sr * 2),                            # rate, byte rate
        F.lit("0200" + "1000"),                            # align 2, 16 bits
        F.lit("64617461"), le32(data_len),                 # data chunk
        samples,
    )
    media = d.select(
        col("doc_id").alias("media_id"),
        F.to_binary(wav_hex, F.lit("hex")).alias("data"),
    )
    return mm.audio_stats(media)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-hash dedup over the RAW corpus: fixed
    8-word grid chunks, global first-occurrence-wins, per-doc survival
    counts + an md5 of the reassembled text (the fixture's planted
    near-dups share real cross-doc chunks — ~150 duplicate keys at
    sf0.01, so the rule does real work). Oracle replays the identical
    grid/hash/row_number pipeline in SQL."""
    d = load_spread(spark, sf_dir, "documents")
    return dd.paragraph_dedup(d, "text", "doc_id").orderBy("doc_id")


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line+document filtering (Raffel et al. 2020) driver-verified
    by triangulation: synthesize layout from the flat fixture text
    (8-word lines; terminal '.' on lines where ``(doc_id+j) % 3 != 0``;
    a "lorem ipsum" boilerplate line injected when ``doc_id % 23 == 0``
    and a curly-brace code line when ``doc_id % 17 == 0``), run the
    REAL regex/HOF operator ``text.c4_line_filter``, and let the oracle
    recompute every verdict closed-form from doc_id — the operator's
    regex path and the oracle's arithmetic must agree on every line."""
    d = load(spark, sf_dir, "documents")
    toks = tx.tokens(col("text"))
    nch = F.ceil(F.size(toks) / F.lit(8)).cast("int")
    did = col("doc_id")
    lines = F.transform(
        F.sequence(F.lit(0), F.greatest(nch - 1, F.lit(0))),
        lambda j: F.concat(
            F.concat_ws(" ", F.slice(toks, j * 8 + 1, 8)),
            F.when((did + j) % 3 != 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    lines = F.when(
        did % 23 == 0,
        F.concat(lines, F.array(F.lit("lorem ipsum dolor sit amet."))),
    ).otherwise(lines)
    lines = F.when(
        did % 17 == 0,
        F.concat(lines, F.array(F.lit("function demo {"))),
    ).otherwise(lines)
    res = tx.c4_line_filter(F.array_join(lines, "\n"))
    return d.select(
        "doc_id",
        res["n_lines"].alias("n_lines"),
        res["n_kept"].alias("n_kept"),
        res["doc_ok"].alias("doc_ok"),
        F.when(res["n_kept"] > 0, F.md5(res["clean_text"])).alias("clean_md5"),
    )


DECON_N = 5  # fixture docs are short; real pipelines use 13 (GPT-3 App. C)


def q_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination DROP-LIST (round-12): every 50th
    document plays the EVALUATION set; the full corpus is checked for
    any shared word 5-gram (Brown et al. 2020 Appendix C's 13-gram
    rule, scaled to the fixture's short docs). Benchmark members
    contaminate themselves totally (ratio 1.0) and any genuine
    near-dup surfaces beside them. Complements
    ``decontam_ngram_overlap`` (pipeline_ext.py), which attributes
    PAIRWISE train×eval hits for forensics — this row is the per-doc
    collision-count/ratio form a pretraining run consumes directly as
    a drop-list, with the per-doc gram totals carried through so the
    threshold can be ratio-based, not just any-hit."""
    # load_spread on the CORPUS side only: the tokenize + n-gram
    # explode over every document is the dominant per-row CPU stage.
    # The benchmark slice is a bounded side that only feeds the
    # broadcast build, so it stays on the plain scan.
    d = load_spread(spark, sf_dir, "documents")
    bench = load(spark, sf_dir, "documents").where(col("doc_id") % 50 == 0)
    return dd.ngram_decontaminate(
        d, bench, id_col="doc_id", text_col="text", n=DECON_N
    )


QUERIES = {
    "drop_duplicates": q_drop_duplicates,
    "ngram_decontaminate": q_ngram_decontaminate,
    "train_test_split": q_train_test_split,
    "text_token_stats": q_text_token_stats,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "exact_dedup": q_exact_dedup,
    "minhash_lsh_neardup": q_minhash_lsh_neardup,
    "minhash_incremental_dedup": q_minhash_incremental_dedup,
    "stream_neardup_pairs": q_stream_neardup_pairs,
    "simhash": q_simhash,
    "simhash_neardup_pairs": q_simhash_neardup_pairs,
    "ivf_probe_topk": q_ivf_probe_topk,
    "ivf_multiprobe_topk": q_ivf_multiprobe_topk,
    "ivf_recall_at_k": q_ivf_recall_at_k,
    "corpus_clean": q_corpus_clean,
    "dedup_representatives": q_dedup_representatives,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "knn_cosine": q_knn_cosine,
    "embedding_neardup": q_embedding_neardup,
    "embedding_centroids": q_embedding_centroids,
    "lsh_bucket_sizes": q_lsh_bucket_sizes,
    "neardup_clusters": q_neardup_clusters,
    "neardup_clusters_star": q_neardup_clusters_star,
    "token_count_bpe": q_token_count_bpe,
    "tfidf_top_terms": q_tfidf_top_terms,
    "knn_batch": q_knn_batch,
    "frame_sample": q_frame_sample,
    "stratified_sample": q_stratified_sample,
    "media_stats": q_media_stats,
    "image_dims": q_image_dims,
    "audio_stats": q_audio_stats,
    "paragraph_dedup": q_paragraph_dedup,
    "c4_clean": q_c4_clean,
}

# --------------------------------------------------------------------------
# DuckDB oracle twins — generated from the same constants
# --------------------------------------------------------------------------

_TOKENS = "string_split_regex(trim(text), '\\s+')"


def _dk_stop_count(lang: str, tokens_expr: str = "toks") -> str:
    words = ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang])
    return f"len(list_filter({tokens_expr}, w -> list_contains([{words}], w)))"


def _dk_lang_id() -> str:
    langs = sorted(tx.STOPWORDS)
    scores = ", ".join(f"s_{lang}" for lang in langs)
    whens = " ".join(
        f"WHEN s_{lang} = greatest({scores}) THEN '{lang}'" for lang in langs
    )
    return f"CASE {whens} END"


def _dk_shingles_n(n: int, text_expr: str = "text") -> str:
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len(string_split_regex(trim({text_expr}),"
        f" '\\s+')) - {n - 1}, 1)),"
        f" i -> array_to_string((string_split_regex(trim({text_expr}),"
        f" '\\s+'))[i:i+{n - 1}], ' ')))"
    )


def _dk_shingles(text_expr: str = "text") -> str:
    n = SHINGLE_N
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len(string_split_regex(trim({text_expr}),"
        f" '\\s+')) - {n - 1}, 1)),"
        f" i -> array_to_string((string_split_regex(trim({text_expr}),"
        f" '\\s+'))[i:i+{n - 1}], ' ')))"
    )


def _dk_minhash_sig(shingles_expr: str = "sh") -> str:
    mins = ", ".join(
        f"list_aggregate(list_transform({shingles_expr},"
        f" s -> md5(concat('{j}|', s))), 'min')"
        for j in range(MINHASH_K)
    )
    return f"[{mins}]"


def _dk_band_keys(sig_expr: str = "sig") -> str:
    keys = ", ".join(
        "concat('{b}:', md5(concat_ws('|', {parts})))".format(
            b=b,
            parts=", ".join(
                f"{sig_expr}[{b * ROWS + r + 1}]" for r in range(ROWS)
            ),
        )
        for b in range(BANDS)
    )
    return f"[{keys}]"


def _dk_simhash(tokens_expr: str, start: int = 1, th_alias: str = "th") -> str:
    """DuckDB twin of the one-pass simhash: ``start`` selects the md5 hex
    slice (1 → hi half, 16 → lo half of the wide variant)."""
    th = (
        f"list_transform(list_distinct({tokens_expr}),"
        f" w -> CAST(concat('0x', substring(md5(w), {start}, 15)) AS BIGINT))"
    )
    bits = " + ".join(
        f"CASE WHEN 2 * len(list_filter({th_alias},"
        f" h -> (h >> {b}) & 1 = 1)) > len({th_alias})"
        f" THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(dd.SIMHASH_BITS)
    )
    return f"(SELECT {bits} FROM (SELECT {th} AS {th_alias}))"


def _dk_dot(a: str, b: str, dim: int = EMB_DIM) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _dk_norm(a: str, dim: int = EMB_DIM) -> str:
    return (
        f"sqrt(list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    )


def _corpus_clean_oracle() -> str:
    """Twin of the composed cleaning pipeline: QUALIFY-min fingerprint
    keep, the standard minhash CTE chain re-rooted on stage-1 survivors,
    and the semdedup cell/prune chain re-rooted on stage-2 survivors —
    same round-9/argmax/tie postures as the standalone oracles."""
    jac = (
        "round(len(list_intersect(l.sh, r.sh)) * 1.0"
        " / greatest(len(list_distinct(list_concat(l.sh, r.sh))), 1), 4)"
    )
    return f"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id < {CLEAN_LIMIT}
          UNION ALL
          SELECT doc_id + {CLEAN_EXACT_OFF}, text FROM documents
          WHERE doc_id < {CLEAN_EXACT_N}
          UNION ALL
          SELECT doc_id + {DUP_OFFSET},
                 substring(text, instr(text, ' ') + 1)
          FROM documents WHERE doc_id < {CLEAN_LIMIT}
          UNION ALL
          SELECT doc_id + {CLEAN_SEM_OFF},
                 array_to_string(
                   list_reverse(string_split_regex(trim(text), '\\s+')), ' ')
          FROM documents WHERE doc_id < {CLEAN_SEM_N}
        ),
        fp AS (
          SELECT doc_id, text,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
          FROM corpus
        ),
        keep1 AS (
          SELECT doc_id, text FROM fp
          QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)
        ),
        sh AS (SELECT doc_id, {_dk_shingles()} AS sh FROM keep1),
        sig AS (SELECT doc_id, sh, {_dk_minhash_sig()} AS sig FROM sh),
        banded AS (
          SELECT doc_id, sh, unnest({_dk_band_keys()}) AS band_key FROM sig
        ),
        mh_pairs AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM banded l JOIN banded r
            ON l.band_key = r.band_key AND l.doc_id < r.doc_id
          WHERE {jac} >= 0.5
        ),
        keep2 AS (
          SELECT doc_id, text FROM keep1
          WHERE doc_id NOT IN (SELECT doc_b FROM mh_pairs)
        ),
        cent AS (
          SELECT vec_id AS centroid_id, embedding AS centroid
          FROM embeddings WHERE vec_id < {N_CENTROIDS}
        ),
        vecs AS (
          SELECT k.doc_id, e.embedding FROM keep2 k
          JOIN embeddings e ON e.vec_id = k.doc_id % 1000000
        ),
        vsims AS (
          SELECT v.doc_id, c.centroid_id,
                 round({_dk_dot('v.embedding', 'c.centroid')}
                       / greatest({_dk_norm('v.embedding')}
                                  * {_dk_norm('c.centroid')}, 1e-12), 9) AS v
          FROM vecs v, cent c
        ),
        vcells AS (
          SELECT doc_id, (max({{'v': v, 'k': centroid_id}})).k AS cell
          FROM vsims GROUP BY doc_id
        ),
        vscored AS (
          SELECT ce.doc_id, ce.cell, v.embedding, s.v AS ccos9
          FROM vcells ce
          JOIN vecs v USING (doc_id)
          JOIN vsims s ON s.doc_id = ce.doc_id AND s.centroid_id = ce.cell
        ),
        dropped3 AS (
          SELECT DISTINCT a.doc_id
          FROM vscored a JOIN vscored b
            ON a.cell = b.cell AND a.doc_id <> b.doc_id
          WHERE round({_dk_dot('a.embedding', 'b.embedding')}
                      / greatest({_dk_norm('a.embedding')}
                                 * {_dk_norm('b.embedding')}, 1e-12), 9)
                  >= {CLEAN_TAU}
            AND (b.ccos9 < a.ccos9
                 OR (b.ccos9 = a.ccos9 AND b.doc_id < a.doc_id))
        ),
        keep3 AS (
          SELECT doc_id FROM vscored
          WHERE doc_id NOT IN (SELECT doc_id FROM dropped3)
        )
        SELECT '1_exact' AS stage,
               (SELECT count(*) FROM corpus) AS n_in,
               (SELECT count(*) FROM corpus)
                 - (SELECT count(*) FROM keep1) AS n_dropped,
               (SELECT count(*) FROM keep1) AS n_out
        UNION ALL
        SELECT '2_minhash',
               (SELECT count(*) FROM keep1),
               (SELECT count(*) FROM keep1) - (SELECT count(*) FROM keep2),
               (SELECT count(*) FROM keep2)
        UNION ALL
        SELECT '3_semdedup',
               (SELECT count(*) FROM keep2),
               (SELECT count(*) FROM keep2) - (SELECT count(*) FROM keep3),
               (SELECT count(*) FROM keep3)
    """


def _ivf_recall_oracle() -> str:
    """Twin of q_ivf_recall_at_k: recomputes BOTH the exact ground truth
    and every probed candidate set relationally (same round-9 ranking,
    same argmax / probe-order tie semantics as the ivf_probe/multiprobe
    oracles), then counts the overlap per nprobe."""
    cos_q = (
        f"round({_dk_dot('e.embedding', 'qvec')}"
        f" / greatest({_dk_norm('e.embedding')} * {_dk_norm('qvec')},"
        f" 1e-12), 9)"
    )
    approx = "\n".join(
        f"""
        approx{n} AS (
          SELECT s.vec_id FROM scored s JOIN cells cl ON s.vec_id = cl.vec_id
          WHERE cl.cell IN (SELECT centroid_id FROM qc
                            ORDER BY v DESC, centroid_id DESC LIMIT {n})
          ORDER BY s.c9 DESC, s.vec_id ASC LIMIT {RECALL_K}
        ),"""
        for n in RECALL_NPROBES
    )
    unions = "\n        UNION ALL\n".join(
        f"""
        SELECT CAST({n} AS INTEGER) AS nprobe,
               CAST({RECALL_K} AS INTEGER) AS k,
               CAST(count(*) AS BIGINT) AS n_hit,
               round(CAST(count(*) AS DOUBLE) / {RECALL_K}, 6) AS recall
        FROM approx{n} JOIN exact USING (vec_id)"""
        for n in RECALL_NPROBES
    )
    return f"""
        WITH cent AS (
          SELECT vec_id AS centroid_id, embedding AS centroid
          FROM embeddings WHERE vec_id < {N_CENTROIDS}
        ),
        csims AS (
          SELECT e.vec_id, c.centroid_id,
                 round({_dk_dot('e.embedding', 'c.centroid')}
                       / greatest({_dk_norm('e.embedding')}
                                  * {_dk_norm('c.centroid')}, 1e-12), 9) AS v
          FROM embeddings e, cent c
        ),
        cells AS (
          SELECT vec_id, (max({{'v': v, 'k': centroid_id}})).k AS cell
          FROM csims GROUP BY vec_id
        ),
        q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT e.vec_id, {cos_q} AS c9
          FROM embeddings e CROSS JOIN q
        ),
        exact AS (
          SELECT vec_id FROM scored ORDER BY c9 DESC, vec_id ASC
          LIMIT {RECALL_K}
        ),
        qc AS (SELECT centroid_id, v FROM csims WHERE vec_id = 0),
        {approx}
        dummy AS (SELECT 1)
        {unions}
    """


def _dk_minhash_pair_ctes(limit: int) -> str:
    """CTE chain ending in ``mh_pairs`` (doc_a, doc_b, jaccard_sim ≥ 0.5)
    — shared by the pair query and the clusters oracle's recursive CTE."""
    jac = (
        "round(len(list_intersect(l.sh, r.sh)) * 1.0"
        " / greatest(len(list_distinct(list_concat(l.sh, r.sh))), 1), 4)"
    )
    return f"""
        unioned AS (
          SELECT doc_id, text FROM documents WHERE doc_id < {limit}
          UNION ALL
          SELECT doc_id + {DUP_OFFSET},
                 substring(text, instr(text, ' ') + 1)
          FROM documents WHERE doc_id < {limit}
        ),
        sh AS (SELECT doc_id, {_dk_shingles()} AS sh FROM unioned),
        sig AS (SELECT doc_id, sh, {_dk_minhash_sig()} AS sig FROM sh),
        banded AS (
          SELECT doc_id, sh, unnest({_dk_band_keys()}) AS band_key FROM sig
        ),
        mh_pairs AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                 {jac} AS jaccard_sim
          FROM banded l JOIN banded r
            ON l.band_key = r.band_key AND l.doc_id < r.doc_id
          WHERE {jac} >= 0.5
        )
    """


def _dk_incremental_ctes() -> str:
    """CTE chain ending in ``scored`` (new_id, hist_id, jaccard_sim ≥
    0.5 cross-corpus candidates) — shared by the batch incremental-dedup
    oracle and its streaming twin, which must agree by construction."""
    return f"""
        hist AS (
          SELECT doc_id, text FROM documents WHERE doc_id < {INC_HIST_N}
        ),
        newb AS (
          SELECT doc_id + {DUP_OFFSET} AS doc_id,
                 substring(text, instr(text, ' ') + 1) AS text
          FROM documents WHERE doc_id < {INC_MUT_N}
          UNION ALL
          SELECT doc_id, text FROM documents
          WHERE doc_id >= {INC_HIST_N} AND doc_id < 200
        ),
        hsh AS (SELECT doc_id, {_dk_shingles()} AS sh FROM hist),
        nsh AS (SELECT doc_id, {_dk_shingles()} AS sh FROM newb),
        hsig AS (SELECT doc_id, sh, {_dk_minhash_sig()} AS sig FROM hsh),
        nsig AS (SELECT doc_id, sh, {_dk_minhash_sig()} AS sig FROM nsh),
        hband AS (
          SELECT doc_id, sh, unnest({_dk_band_keys()}) AS band_key FROM hsig
        ),
        nband AS (
          SELECT doc_id, sh, unnest({_dk_band_keys()}) AS band_key FROM nsig
        ),
        cand AS (
          SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id,
                 round(len(list_intersect(n.sh, h.sh)) * 1.0
                   / greatest(len(list_distinct(list_concat(n.sh, h.sh))), 1),
                   4) AS jaccard_sim
          FROM nband n JOIN hband h USING (band_key)
        ),
        scored AS (SELECT * FROM cand WHERE jaccard_sim >= 0.5)
    """


def _dk_planes_sql() -> str:
    """The 6 deterministic hyperplanes as an inline VALUES list."""
    rows = []
    for i in range(6):
        plane = sim._hyperplane(i, EMB_DIM)
        arr = ", ".join(repr(x) for x in plane)
        rows.append(f"({i}, [{arr}]::DOUBLE[])")
    return ", ".join(rows)


ORACLE = {
    "ngram_decontaminate": f"""
        WITH g5 AS (
          SELECT doc_id, {_dk_shingles_n(5)} AS sh FROM documents
        ),
        bg AS (
          SELECT DISTINCT unnest(sh) AS gram FROM g5 WHERE doc_id % 50 = 0
        ),
        dg AS (
          SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS gram FROM g5
        )
        SELECT doc_id,
               count(1) AS n_collisions,
               min(n_grams) AS n_grams,
               round(count(1) * 1.0 / greatest(min(n_grams), 1), 4)
                 AS contamination_ratio
        FROM dg JOIN bg USING (gram)
        GROUP BY doc_id
    """,
    "drop_duplicates": f"""
        SELECT DISTINCT
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM (
          SELECT text FROM documents
          UNION ALL
          SELECT upper(text) FROM documents
        )
    """,
    "train_test_split": """
        WITH b AS (
          SELECT CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
                                             1, 8)) AS BIGINT) % 100 AS bucket
          FROM documents
        )
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'validation'
                    ELSE 'test' END AS split,
               count(1) AS n_docs
        FROM b GROUP BY 1
    """,
    "text_token_stats": f"""
        SELECT doc_id,
               CAST(len({_TOKENS}) AS INTEGER) AS n_tokens,
               round(list_sum(list_transform({_TOKENS}, w -> len(w)))
                     / greatest(len({_TOKENS}), 1), 4) AS avg_token_len
        FROM documents
    """,
    "text_quality": f"""
        WITH t AS (
          SELECT doc_id, text, {_TOKENS} AS toks,
                 CAST(length(text) AS INTEGER) AS n_chars,
                 length(text) - length(regexp_replace(text,
                     '[.,;:!?''"()\\[\\]{{}}]', '', 'g')) AS n_punct
          FROM documents
        )
        SELECT doc_id, n_chars,
               round({_dk_stop_count('en')} * 1.0 / greatest(len(toks), 1), 4)
                 AS stopword_ratio,
               round(
                 (CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 0.5 ELSE 0.0 END)
                 + least(round(round({_dk_stop_count('en')} * 1.0
                         / greatest(len(toks), 1), 4) * 2, 4), 0.3)
                 - least(round(n_punct * 1.0 / greatest(n_chars, 1), 4), 0.2)
                 + 0.2, 4) AS quality
        FROM t
    """,
    "lang_id": f"""
        WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
        s AS (
          SELECT doc_id,
                 {', '.join(f"{_dk_stop_count(lang)} AS s_{lang}"
                            for lang in sorted(tx.STOPWORDS))}
          FROM t
        )
        SELECT doc_id, {_dk_lang_id()} AS lang_pred FROM s
    """,
    "doc_fingerprint": """
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
    """,
    "exact_dedup": f"""
        WITH unioned AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + {DUP_OFFSET}, upper(text) FROM documents
        )
        SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
               min(doc_id) AS representative_id,
               count(1) AS dup_count
        FROM unioned GROUP BY 1
    """,
    "minhash_lsh_neardup": (
        "WITH " + _dk_minhash_pair_ctes(100)
        + " SELECT doc_a, doc_b, jaccard_sim FROM mh_pairs"
    ),
    "minhash_incremental_dedup": "WITH "
    + _dk_incremental_ctes()
    + """,
        best AS (
          SELECT new_id,
                 CAST(count(1) OVER w AS BIGINT) AS n_matches,
                 max(jaccard_sim) OVER w AS best_jaccard,
                 hist_id AS best_match,
                 row_number() OVER
                   (PARTITION BY new_id
                    ORDER BY jaccard_sim DESC, hist_id ASC) AS rn
          FROM scored
          WINDOW w AS (PARTITION BY new_id)
          QUALIFY rn = 1
        )
        SELECT b.doc_id,
               (a.new_id IS NOT NULL) AS is_dup,
               COALESCE(a.n_matches, 0) AS n_matches,
               a.best_match,
               a.best_jaccard
        FROM newb b LEFT JOIN best a ON b.doc_id = a.new_id
    """,
    "stream_neardup_pairs": "WITH "
    + _dk_incremental_ctes()
    + " SELECT new_id, hist_id, jaccard_sim FROM scored",
    "simhash": f"""
        SELECT doc_id, {_dk_simhash(_TOKENS)} AS simhash
        FROM documents WHERE doc_id < 200
    """,
    "simhash_neardup_pairs": f"""
        WITH unioned AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 60
          UNION ALL
          SELECT doc_id + {DUP_OFFSET},
                 substring(text, instr(text, ' ') + 1)
          FROM documents WHERE doc_id < 60
        ),
        sh AS (
          SELECT doc_id,
                 {_dk_simhash(_TOKENS, 1, 'th_hi')} AS hi,
                 {_dk_simhash(_TOKENS, 16, 'th_lo')} AS lo
          FROM unioned
        ),
        banded AS (
          SELECT doc_id, hi, lo, b,
                 CASE WHEN b = 0 THEN hi & {(1 << 30) - 1}
                      WHEN b = 1 THEN (hi >> 30) & {(1 << 30) - 1}
                      WHEN b = 2 THEN lo & {(1 << 30) - 1}
                      ELSE (lo >> 30) & {(1 << 30) - 1} END AS band_val
          FROM sh, unnest(generate_series(0, 3)) AS t(b)
        )
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
               CAST(bit_count(xor(l.hi, r.hi))
                    + bit_count(xor(l.lo, r.lo)) AS INTEGER) AS hamming
        FROM banded l JOIN banded r
          ON l.b = r.b AND l.band_val = r.band_val AND l.doc_id < r.doc_id
        WHERE bit_count(xor(l.hi, r.hi)) + bit_count(xor(l.lo, r.lo)) <= 12
    """,
    "ivf_probe_topk": f"""
        WITH cent AS (
          SELECT vec_id AS centroid_id, embedding AS centroid
          FROM embeddings WHERE vec_id < {N_CENTROIDS}
        ),
        sims AS (
          SELECT e.vec_id, c.centroid_id,
                 round({_dk_dot('e.embedding', 'c.centroid')}
                       / greatest({_dk_norm('e.embedding')}
                                  * {_dk_norm('c.centroid')}, 1e-12), 9) AS v
          FROM embeddings e, cent c
        ),
        cells AS (
          SELECT vec_id, (max({{'v': v, 'k': centroid_id}})).k AS cell
          FROM sims GROUP BY vec_id
        ),
        q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
        SELECT c.vec_id, c.cell,
               round({_dk_dot('e.embedding', 'qvec')}
                     / greatest({_dk_norm('e.embedding')} * {_dk_norm('qvec')},
                                1e-12), 6) AS cosine_sim
        FROM cells c
        JOIN embeddings e ON c.vec_id = e.vec_id
        CROSS JOIN q
        WHERE c.cell = (SELECT cell FROM cells WHERE vec_id = 0)
        ORDER BY cosine_sim DESC, c.vec_id ASC LIMIT 5
    """,
    "ivf_multiprobe_topk": f"""
        WITH cent AS (
          SELECT vec_id AS centroid_id, embedding AS centroid
          FROM embeddings WHERE vec_id < {N_CENTROIDS}
        ),
        sims AS (
          SELECT e.vec_id, c.centroid_id,
                 round({_dk_dot('e.embedding', 'c.centroid')}
                       / greatest({_dk_norm('e.embedding')}
                                  * {_dk_norm('c.centroid')}, 1e-12), 9) AS v
          FROM embeddings e, cent c
        ),
        cells AS (
          SELECT vec_id, (max({{'v': v, 'k': centroid_id}})).k AS cell
          FROM sims GROUP BY vec_id
        ),
        qcells AS (
          SELECT centroid_id FROM sims WHERE vec_id = 0
          ORDER BY v DESC, centroid_id DESC LIMIT {NPROBE}
        ),
        q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
        SELECT c.vec_id, c.cell,
               round({_dk_dot('e.embedding', 'qvec')}
                     / greatest({_dk_norm('e.embedding')} * {_dk_norm('qvec')},
                                1e-12), 6) AS cosine_sim
        FROM cells c
        JOIN embeddings e ON c.vec_id = e.vec_id
        CROSS JOIN q
        WHERE c.cell IN (SELECT centroid_id FROM qcells)
        ORDER BY cosine_sim DESC, c.vec_id ASC LIMIT 5
    """,
    "dedup_representatives": (
        "WITH RECURSIVE " + _dk_minhash_pair_ctes(40) + """,
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
          UNION
          SELECT doc_b, doc_a FROM mh_pairs
        ),
        reach AS (
          SELECT src AS node, src AS lab FROM edges
          UNION
          SELECT e.dst, reach.lab FROM reach JOIN edges e ON e.src = reach.node
        ),
        labels AS (
          SELECT node, min(lab) AS cluster FROM reach GROUP BY node
        )
        SELECT u.doc_id FROM unioned u
        WHERE u.doc_id NOT IN (SELECT node FROM labels WHERE cluster <> node)
    """
    ),
    "ngram_jaccard_pairs": f"""
        WITH sh AS (
          SELECT doc_id, {_dk_shingles()} AS sh
          FROM documents WHERE doc_id < 30
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.sh, b.sh)) * 1.0
                     / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1),
                     4) AS jaccard_sim
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    """,
    "knn_cosine": f"""
        WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               round({_dk_dot('embedding', 'qvec')}
                     / greatest({_dk_norm('embedding')} * {_dk_norm('qvec')},
                                1e-12), 6) AS cosine_sim
        FROM embeddings, q
        ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10
    """,
    "embedding_neardup": f"""
        WITH planes(plane_id, plane) AS (VALUES {_dk_planes_sql()}),
        u AS (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300
          UNION ALL
          SELECT vec_id + {DUP_OFFSET}, embedding
          FROM embeddings WHERE vec_id < 300
        ),
        buckets AS (
          SELECT vec_id,
                 CAST(sum(CASE WHEN {_dk_dot('embedding', 'plane')} >= 0
                               THEN (1 << plane_id) ELSE 0 END) AS INTEGER)
                   AS bucket
          FROM u, planes GROUP BY vec_id
        ),
        banded AS (
          SELECT u.vec_id, u.embedding, b.bucket
          FROM u JOIN buckets b ON u.vec_id = b.vec_id
        )
        SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b,
               round({_dk_dot('l.embedding', 'r.embedding')}
                     / greatest({_dk_norm('l.embedding')}
                                * {_dk_norm('r.embedding')}, 1e-12), 6)
                 AS cosine_sim
        FROM banded l JOIN banded r
          ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        WHERE round({_dk_dot('l.embedding', 'r.embedding')}
                    / greatest({_dk_norm('l.embedding')}
                               * {_dk_norm('r.embedding')}, 1e-12), 6) >= 0.99
    """,
    "embedding_centroids": f"""
        SELECT label, CAST(i AS INTEGER) AS dim,
               round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS avg_component
        FROM embeddings, unnest(generate_series(1, {EMB_DIM})) AS t(i)
        GROUP BY label, i
    """,
    "lsh_bucket_sizes": f"""
        WITH planes(plane_id, plane) AS (VALUES {_dk_planes_sql()}),
        dots AS (
          SELECT vec_id, plane_id,
                 {_dk_dot('embedding', 'plane')} AS d
          FROM embeddings, planes
        ),
        buckets AS (
          SELECT vec_id,
                 CAST(sum(CASE WHEN d >= 0 THEN (1 << plane_id) ELSE 0 END)
                      AS INTEGER) AS bucket
          FROM dots GROUP BY vec_id
        )
        SELECT bucket, count(1) AS n_vectors FROM buckets GROUP BY bucket
    """,
    "neardup_clusters": (
        "WITH RECURSIVE " + _dk_minhash_pair_ctes(40) + """,
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
          UNION
          SELECT doc_b, doc_a FROM mh_pairs
        ),
        reach AS (
          SELECT src AS node, src AS lab FROM edges
          UNION
          SELECT e.dst, reach.lab FROM reach JOIN edges e ON e.src = reach.node
        )
        SELECT node AS doc_id, min(lab) AS cluster FROM reach GROUP BY node
    """
    ),
    # the star variant must produce the IDENTICAL labeling — same oracle
    "neardup_clusters_star": (
        "WITH RECURSIVE " + _dk_minhash_pair_ctes(40) + """,
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
          UNION
          SELECT doc_b, doc_a FROM mh_pairs
        ),
        reach AS (
          SELECT src AS node, src AS lab FROM edges
          UNION
          SELECT e.dst, reach.lab FROM reach JOIN edges e ON e.src = reach.node
        )
        SELECT node AS doc_id, min(lab) AS cluster FROM reach GROUP BY node
    """
    ),
    "token_count_bpe": f"""
        SELECT doc_id,
               CAST(len({_TOKENS}) AS INTEGER) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text,
                    '{tx.BPE_ISH_RE.replace("'", "''")}')) AS INTEGER)
                 AS n_bpe_tokens
        FROM documents
    """,
    "tfidf_top_terms": f"""
        WITH t AS (
          SELECT doc_id, unnest({_TOKENS}) AS term
          FROM documents WHERE doc_id < 200
        ),
        tf AS (SELECT doc_id, term, count(1) AS tf FROM t GROUP BY 1, 2),
        dfreq AS (SELECT term, count(1) AS df FROM tf GROUP BY 1),
        nd AS (SELECT count(1) AS n_docs FROM documents WHERE doc_id < 200),
        scored AS (
          SELECT doc_id, term, tf * n_docs * 1.0 / df AS score
          FROM tf JOIN dfreq USING (term) CROSS JOIN nd
        ),
        ranked AS (
          SELECT doc_id, term,
                 CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, term ASC
                 ) AS INTEGER) AS term_rank
          FROM scored
        )
        SELECT doc_id, term_rank, term FROM ranked WHERE term_rank <= 3
    """,
    "knn_batch": f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id < 4
        ),
        scored AS (
          SELECT query_id, e.vec_id,
                 round({_dk_dot('e.embedding', 'qvec')}
                       / greatest({_dk_norm('e.embedding')}
                                  * {_dk_norm('qvec')}, 1e-12), 6)
                   AS cosine_sim
          FROM embeddings e CROSS JOIN q
        ),
        ranked AS (
          SELECT query_id, vec_id, cosine_sim,
                 CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine_sim DESC, vec_id ASC
                 ) AS INTEGER) AS knn_rank
          FROM scored
        )
        SELECT query_id, vec_id, cosine_sim, knn_rank
        FROM ranked WHERE knn_rank <= 5
    """,
    "frame_sample": """
        SELECT doc_id AS media_id,
               CAST(unnest(generate_series(0, CAST(doc_id % 97 AS INTEGER),
                                           10)) AS INTEGER) AS frame_index
        FROM documents WHERE doc_id < 50
    """,
    "stratified_sample": """
        WITH b AS (
          SELECT source,
                 CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
                                             1, 8)) AS BIGINT) % 100 AS bucket,
                 (length(source) * 7) % 40 + 10 AS rate
          FROM documents
        )
        SELECT source, count(1) AS n_total,
               count(1) FILTER (WHERE bucket < rate) AS n_sampled
        FROM b GROUP BY 1
    """,
    "media_stats": """
        WITH media AS (
          SELECT doc_id AS media_id,
                 (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INTEGER) + 1]
                   AS kind,
                 CAST((doc_id % 640) + 1 AS INTEGER) AS width,
                 CAST((doc_id % 480) + 1 AS INTEGER) AS height
          FROM documents
        )
        SELECT kind, count(1) AS n_media,
               round(avg(width * height), 4) AS avg_pixels
        FROM media GROUP BY 1
    """,
    "ivf_recall_at_k": _ivf_recall_oracle(),
    "corpus_clean": _corpus_clean_oracle(),
    # dims are closed-form in doc_id, so the oracle never touches the
    # binary: a parser (or blob-construction) bug on the Spark side
    # breaks width/height/dims_ok against this relational recomputation
    "image_dims": """
        SELECT doc_id AS media_id,
               CASE CAST(doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif'
               END AS format,
               CAST((doc_id % 640) + 1 AS INTEGER) AS width,
               CAST((doc_id % 480) + 1 AS INTEGER) AS height,
               true AS dims_ok
        FROM documents WHERE doc_id < 300
    """,
    # third independent encoding of the WAV layout: recompute the PCM
    # sample stream (and its exact integer power sum) from doc_id
    "audio_stats": """
        WITH f AS (
          SELECT doc_id,
                 CAST(doc_id % 4 + 2 AS INTEGER) AS n,
                 CAST(8000 + (doc_id % 8) * 1000 AS INTEGER) AS sr
          FROM documents WHERE doc_id < 300
        ), s AS (
          SELECT f.doc_id, f.sr,
                 CAST((f.doc_id * 37 + u.i * 101) % 1024 - 512 AS BIGINT) AS v
          FROM f CROSS JOIN (SELECT unnest(range(0, 5)) AS i) u
          WHERE u.i < f.n
        )
        SELECT doc_id AS media_id,
               CAST(1 AS INTEGER) AS channels,
               CAST(min(sr) AS INTEGER) AS sample_rate,
               CAST(16 AS INTEGER) AS bits,
               CAST(count(*) AS BIGINT) AS n_frames,
               CAST(sum(v * v) AS BIGINT) AS sum_sq,
               CAST(max(abs(v)) AS INTEGER) AS peak
        FROM s GROUP BY doc_id
    """,
    # identical grid/hash/first-wins pipeline replayed relationally
    "paragraph_dedup": f"""
        WITH toks AS (
          SELECT doc_id, {_TOKENS} AS w FROM documents
        ), ch AS (
          SELECT doc_id, u.i AS pos,
                 array_to_string(w[u.i*8+1:u.i*8+8], ' ') AS chunk
          FROM toks CROSS JOIN (SELECT unnest(range(0, 200)) AS i) u
          WHERE u.i < greatest(CAST(ceil(len(w) / 8.0) AS INTEGER), 1)
        ), h AS (
          SELECT doc_id, pos, chunk,
                 row_number() OVER (
                   PARTITION BY md5(chunk) ORDER BY doc_id, pos
                 ) AS rn
          FROM ch
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               md5(string_agg(chunk, ' ' ORDER BY pos)
                   FILTER (WHERE rn = 1)) AS clean_md5
        FROM h GROUP BY doc_id
    """,
    # every verdict recomputed closed-form from doc_id (the Spark side
    # runs the real regex/HOF operator over the synthesized lines)
    "c4_clean": f"""
        WITH toks AS (
          SELECT doc_id, {_TOKENS} AS w FROM documents
        ), f AS (
          SELECT doc_id, w, len(w) AS n,
                 greatest(CAST(ceil(len(w) / 8.0) AS INTEGER), 1) AS nch,
                 (doc_id % 23 = 0) AS lorem,
                 (doc_id % 17 = 0) AS brace
          FROM toks
        ), ln AS (
          SELECT f.doc_id, f.nch, f.lorem, f.brace, u.i AS pos,
                 array_to_string(f.w[u.i*8+1:u.i*8+8], ' ')
                   || CASE WHEN (f.doc_id + u.i) % 3 <> 0
                           THEN '.' ELSE '' END AS line,
                 CASE WHEN (f.doc_id + u.i) % 3 <> 0
                           AND least(8, f.n - u.i*8) >= 5
                      THEN 1 ELSE 0 END AS kept
          FROM f CROSS JOIN (SELECT unnest(range(0, 200)) AS i) u
          WHERE u.i < f.nch
        ), agg AS (
          SELECT doc_id, min(nch) AS nch,
                 bool_or(lorem) AS lorem, bool_or(brace) AS brace,
                 sum(kept) AS kept_chunks,
                 string_agg(line, chr(10) ORDER BY pos)
                   FILTER (WHERE kept = 1) AS kept_text
          FROM ln GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(nch + CASE WHEN lorem THEN 1 ELSE 0 END
                        + CASE WHEN brace THEN 1 ELSE 0 END
                    AS INTEGER) AS n_lines,
               CAST(kept_chunks + CASE WHEN lorem THEN 1 ELSE 0 END
                    AS INTEGER) AS n_kept,
               (NOT lorem AND NOT brace
                AND kept_chunks + CASE WHEN lorem THEN 1 ELSE 0 END >= 3)
                 AS doc_ok,
               CASE WHEN kept_chunks + CASE WHEN lorem THEN 1 ELSE 0 END > 0
                    THEN md5(CASE
                      WHEN lorem AND kept_chunks > 0
                        THEN kept_text || chr(10)
                             || 'lorem ipsum dolor sit amet.'
                      WHEN lorem THEN 'lorem ipsum dolor sit amet.'
                      ELSE kept_text END)
               END AS clean_md5
        FROM agg
    """,
}
