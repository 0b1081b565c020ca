"""Pipeline-operator promotions.

Promotes the two round-3 "weak" components into the driver's oracle gate
(`gopher_quality_flags`, the ``IVFIndex`` build-once/search-many API) and
adds the k-means training step (`kmeans_one_step`, the oracle twin of
``operators/kmeans.py``'s Lloyd update).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from interop_spark.io import load, load_spread
from interop_spark.operators import text as tx
from interop_spark.queries.pipeline import (
    DUP_OFFSET,
    EMB_DIM,
    N_CENTROIDS,
    _dk_dot,
    _dk_norm,
    _TOKENS,
)

KM_K = N_CENTROIDS  # one Lloyd step trains the same 8 coarse centroids


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 keep/drop signals, flattened to scalar columns — ONE
    projection pass over the corpus computes every signal plus the
    composite ``keep`` (round-4: the gate now includes the published
    dup-line repetition threshold)."""
    d = load(spark, sf_dir, "documents")
    g = tx.gopher_quality_flags(col("text"))
    return d.withColumn("_g", g).select(
        "doc_id",
        col("_g.n_words").alias("n_words"),
        col("_g.mean_word_len").alias("mean_word_len"),
        col("_g.symbol_word_ratio").alias("symbol_word_ratio"),
        col("_g.alpha_word_ratio").alias("alpha_word_ratio"),
        col("_g.bullet_ratio").alias("bullet_ratio"),
        col("_g.ellipsis_ratio").alias("ellipsis_ratio"),
        col("_g.dup_line_ratio").alias("dup_line_ratio"),
        col("_g.keep").alias("keep"),
    )


def q_ivf_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``IVFIndex`` build-once/search-many API as a driver query:
    build over the embeddings corpus (first-C centroids), then search the
    vec_id=1 vector with nprobe=2 — exercises the materialized-assignment
    reuse path that `ivf_probe_topk` (which inlines the build) does not."""
    from interop_spark.operators.similarity import ivf_build

    e = load(spark, sf_dir, "embeddings")
    cent = e.where(col("vec_id") < N_CENTROIDS).select(
        col("vec_id").alias("centroid_id"), col("embedding").alias("centroid")
    )
    index = ivf_build(e, cent)
    qvec = [
        float(x)
        for x in e.where(col("vec_id") == 1).select("embedding").collect()[0][0]
    ]
    return index.search(qvec, k=5, nprobe=2)


def q_kmeans_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration (assign → per-cell component means) with the
    deterministic first-k seeding, posexploded to (centroid_id, dim,
    comp) rows so the 64-dim centroid arrays get a full value-hash
    oracle. comp is the operator's 9-decimal component re-rounded to 4
    for cross-engine mean stability, then ``+ 0.0`` to normalize signed
    zero — a mean like -0.000044 rounds to -0.0 in DuckDB but +0.0 in
    Spark, and the driver's value hash distinguishes them (the round-4
    failure); IEEE -0.0 + 0.0 = +0.0 collapses both engines to the same
    bits."""
    from interop_spark.operators.kmeans import kmeans_init, kmeans_one_step

    e = load(spark, sf_dir, "embeddings")
    cents = kmeans_one_step(e, kmeans_init(e, KM_K))
    return cents.select(
        "centroid_id", F.posexplode("centroid").alias("pos", "c")
    ).select(
        "centroid_id",
        (col("pos") + 1).alias("dim"),
        (F.round(col("c"), 4) + F.lit(0.0)).alias("comp"),
    )


KM_FIT_K = 4  # small-k fixpoint run — distinct from the one-step K
KM_FIT_ITERS = 5


def q_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Lloyd TRAINING LOOP (k=4, max_iters=5, deterministic
    first-k seeding) as a driver query — `kmeans_one_step` checks one
    update; this checks the iterated composition including the
    assignment argmax chain across iterations. The oracle unrolls 5
    steps as chained CTEs; early convergence is oracle-equivalent
    because a Lloyd step at an assignment fixpoint reproduces the same
    centroids (the per-iteration 9-decimal rounding is replicated on
    both sides, so the fixpoint is bit-identical too). Output rounding
    gets the same signed-zero normalization as `kmeans_one_step`."""
    from interop_spark.operators.kmeans import kmeans_fit, kmeans_init

    e = load(spark, sf_dir, "embeddings")
    cents, _assigned, _n, _conv = kmeans_fit(
        e, k=KM_FIT_K, max_iters=KM_FIT_ITERS, init=kmeans_init(e, KM_FIT_K)
    )
    return cents.select(
        "centroid_id", F.posexplode("centroid").alias("pos", "c")
    ).select(
        "centroid_id",
        (col("pos") + 1).alias("dim"),
        (F.round(col("c"), 4) + F.lit(0.0)).alias("comp"),
    )


def _kmeans_fit_oracle(k: int, iters: int) -> str:
    """Unrolled Lloyd iterations as chained CTEs. Each step replicates
    the operator's rounding exactly: assignment cosine rounded to 9
    (argmax = max(struct(v, centroid_id)) — ties to the higher id, the
    ``ivf_assign`` contract), update = per-(cell, dim) mean rounded to
    9, centroid arrays reassembled in dim order."""
    parts = [
        f"""cent0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
          FROM embeddings ORDER BY vec_id LIMIT {k}
        )"""
    ]
    for it in range(1, iters + 1):
        prev = f"cent{it - 1}"
        parts.append(f"""sims{it} AS (
          SELECT e.vec_id, c.centroid_id,
                 round({_dk_dot('e.embedding', 'c.centroid')}
                       / greatest({_dk_norm('e.embedding')}
                                  * {_dk_norm('c.centroid')}, 1e-12), 9) AS v
          FROM embeddings e, {prev} c
        )""")
        parts.append(f"""cells{it} AS (
          SELECT vec_id, (max({{'v': v, 'k': centroid_id}})).k AS cell
          FROM sims{it} GROUP BY vec_id
        )""")
        parts.append(f"""comp{it} AS (
          SELECT cells{it}.cell, g.i,
                 round(avg(CAST(e.embedding[g.i] AS DOUBLE)), 9) AS m
          FROM cells{it}
          JOIN embeddings e ON cells{it}.vec_id = e.vec_id
          CROSS JOIN generate_series(1, {EMB_DIM}) AS g(i)
          GROUP BY cells{it}.cell, g.i
        )""")
        parts.append(f"""cent{it} AS (
          SELECT cell AS centroid_id, list(m ORDER BY i) AS centroid
          FROM comp{it} GROUP BY cell
        )""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT centroid_id, g.i AS dim,
               round(centroid[g.i], 4) + 0.0 AS comp
        FROM cent{iters} CROSS JOIN generate_series(1, {EMB_DIM}) AS g(i)
    """
    )


# --------------------------------------------------------------------------
# Round-5 pipeline additions: PII scrubbing, train/eval decontamination,
# Gopher repetition signals — the remaining first-class text-pipeline ops
# a 100 TB training-data run needs.
# --------------------------------------------------------------------------

# Conservative patterns with identical semantics in Java regex (Spark)
# and RE2 (DuckDB): explicit classes, no lookaround, \b word boundaries.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b555-[0-9]{4}\b"

DECONTAM_N = 8  # n-gram width for the overlap check (13 in the papers;
#                 8 keeps the tiny fixture's shingle sets non-degenerate)
DECONTAM_EVAL = 30  # doc_id < 30 = the "benchmark" set
DECONTAM_TRAIN_HI = 200  # clean-train slice proving specificity


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: e-mail/phone redaction + per-doc match counts, one
    projection pass (JVM regex — the shape that runs at 100 TB). The
    corpus has no PII, so each doc gets a deterministic synthetic
    contact line appended; the op must find and redact exactly those.
    The redacted text is emitted as md5 so the full string (not a
    truncation) is value-checked."""
    d = load(spark, sf_dir, "documents")
    aug = F.concat(
        col("text"),
        F.lit(" Contact: user"),
        col("doc_id").cast("string"),
        F.lit("@example.com or 555-01"),
        F.lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit("."),
    )
    t = d.select("doc_id", aug.alias("t2"))
    redacted = F.regexp_replace(
        F.regexp_replace(col("t2"), PII_EMAIL_RE, "[EMAIL]"),
        PII_PHONE_RE,
        "[PHONE]",
    )
    return t.select(
        "doc_id",
        F.regexp_count(col("t2"), F.lit(PII_EMAIL_RE)).cast("bigint").alias(
            "n_emails"
        ),
        F.regexp_count(col("t2"), F.lit(PII_PHONE_RE)).cast("bigint").alias(
            "n_phones"
        ),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
    )


def q_decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: count shared word 8-grams between each
    train doc and each benchmark doc (the exact-substring contamination
    check of the public eval-decontamination recipes). Shape: distinct
    shingles per doc → md5 → equi-join on the hash → pair count — at
    100 TB the shuffle carries (hash, doc_id) pairs only, and the small
    eval side broadcasts. The fixture guarantees hits: train includes a
    first-word-dropped mutation of every eval doc (near-total overlap)
    plus untouched docs 30..200 (must not collide — specificity)."""
    from interop_spark.operators.dedup import word_shingles

    d = load(spark, sf_dir, "documents")
    ev = d.where(col("doc_id") < DECONTAM_EVAL).select("doc_id", "text")
    train = (
        ev.select(
            (col("doc_id") + DUP_OFFSET).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
        .unionByName(
            d.where(
                (col("doc_id") >= DECONTAM_EVAL)
                & (col("doc_id") < DECONTAM_TRAIN_HI)
            ).select("doc_id", "text")
        )
    )

    def sh(df, alias):
        return df.select(
            col("doc_id").alias(alias),
            F.explode(word_shingles(col("text"), DECONTAM_N)).alias("s"),
        ).select(alias, F.md5(col("s")).alias("h"))

    return (
        sh(train, "train_doc_id")
        .join(F.broadcast(sh(ev, "eval_doc_id")), "h")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def q_dup_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (§A1.1 beyond the line-level gate in
    `gopher_quality_flags`): per-doc bigram total, the most frequent
    bigram's count, and its fraction.

    ZERO-shuffle shape: the top-bigram multiplicity is doc-local, so
    instead of explode → groupBy(doc, bigram) → groupBy(doc) (two
    exchanges whose key space is the corpus's distinct bigrams) the
    bigram array is sorted per row and one ``F.aggregate`` fold finds
    the longest equal run — a pure projection that scans the corpus
    once at any scale."""
    d = load(spark, sf_dir, "documents")
    bigrams = tx.word_ngrams(col("text"), 2)

    def _step(a, x):
        run = (
            F.when(x == a["prev"], a["run"] + 1)
            .otherwise(F.lit(1))
            .cast("bigint")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(a["best"], run).alias("best"),
        )

    folded = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        _step,
    )
    return d.select(
        "doc_id",
        F.size(bigrams).cast("bigint").alias("n_bigrams"),
        folded["best"].alias("top_bigram_n"),
        # UNROUNDED: an integer÷integer double division is bit-identical
        # across engines, while round()ing a quotient risks the
        # shortest-repr-vs-exact-binary half-boundary divergence
        (
            folded["best"].cast("double")
            / F.size(bigrams).cast("double")
        ).alias("top_bigram_frac"),
    )


REP_TOP_NS = (2, 3, 4)
REP_DUP_NS = (5, 6, 7, 8, 9, 10)


def q_gopher_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining Gopher §A1.1 repetition signals (top-{2,3,4}-gram
    char fraction, dup-{5..10}-gram char fraction) — computed doc-locally
    as sorted-run folds (zero shuffle; see
    ``operators/text.repetition_signals``)."""
    # load_spread: the per-doc n-gram sort+run folds are CPU-heavy
    # per-row work over the FULL corpus
    d = load_spread(spark, sf_dir, "documents")
    r = tx.repetition_signals(
        col("text"), top_ns=REP_TOP_NS, dup_ns=REP_DUP_NS
    )
    names = [f"top_{n}gram_char_frac" for n in REP_TOP_NS] + [
        f"dup_{n}gram_char_frac" for n in REP_DUP_NS
    ]
    return d.withColumn("_r", r).select(
        "doc_id", *[col(f"_r.{c}").alias(c) for c in names]
    )


def _repetition_oracle() -> str:
    """Per n: unnest the multiplicity-preserving n-gram list, count per
    (doc, gram), then per doc take the lexicographic struct max on
    (count, length) — the fold's tie-break — and the Σ count×length of
    grams with count ≥ 2."""
    ctes = [
        "t AS (SELECT doc_id,"
        " CAST(greatest(length(text), 1) AS BIGINT) AS nc,"
        f" {_TOKENS} AS toks FROM documents)"
    ]
    for n in REP_TOP_NS + REP_DUP_NS:
        ctes.append(
            f"""a{n} AS (
          SELECT doc_id, count(*) AS c, length(g) AS l FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     generate_series(1, greatest(len(toks) - {n - 1}, 1)),
                     i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS g
            FROM t
          ) GROUP BY doc_id, g
        )"""
        )
        ctes.append(
            f"""s{n} AS (
          SELECT doc_id,
                 (max({{'c': c, 'l': l}})).c * (max({{'c': c, 'l': l}})).l
                   AS top_chars,
                 sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup_chars
          FROM a{n} GROUP BY doc_id
        )"""
        )
    cols = [
        f"CAST(s{n}.top_chars AS DOUBLE) / CAST(t.nc AS DOUBLE)"
        f" AS top_{n}gram_char_frac"
        for n in REP_TOP_NS
    ] + [
        f"CAST(s{n}.dup_chars AS DOUBLE) / CAST(t.nc AS DOUBLE)"
        f" AS dup_{n}gram_char_frac"
        for n in REP_DUP_NS
    ]
    joins = " ".join(
        f"JOIN s{n} ON t.doc_id = s{n}.doc_id"
        for n in REP_TOP_NS + REP_DUP_NS
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT t.doc_id, {', '.join(cols)} FROM t {joins}"
    )


PACK_CAPACITY = 512  # context-window token budget
PACK_GROUPS = 8  # parallel packing shards (scale knob: shards pack
#                  independently, so the global-order window bottleneck
#                  never materializes)


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, concat-then-chunk style (the GPT-line recipe:
    concatenate documents in a deterministic order, slice into
    fixed-size context windows; a doc can straddle two windows). Packing
    is per SHARD (doc_id % G) so the cumulative-sum window partitions —
    a single global ordering would serialize at scale. Emits each doc's
    first/last window index within its shard."""
    from pyspark.sql.window import Window

    from interop_spark.operators.text import token_count

    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (col("doc_id") % PACK_GROUPS).alias("grp"),
        token_count(col("text")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "grp",
        "n_tokens",
        F.floor((cum - col("n_tokens")) / PACK_CAPACITY)
        .cast("bigint")
        .alias("first_window"),
        F.floor((cum - 1) / PACK_CAPACITY).cast("bigint").alias(
            "last_window"
        ),
    )


# per-source sampling rates: a deterministic "domain mixing" recipe
# (web-scale pipelines weight sources; here rate derives from the
# source's numeric suffix so the oracle can recompute it)
def _mix_rate_sql(src: str) -> str:
    # CAST to DOUBLE: bare literals would unify to DECIMAL with
    # engine-specific scales (0.50 vs 0.5) and break the value hash.
    # TRY_CAST, not CAST: on a source with no trailing digit,
    # regexp_extract returns '' and DuckDB's plain CAST('' AS INTEGER)
    # RAISES while Spark's non-ANSI cast yields NULL — TRY_CAST gives
    # both engines the same NULL → ELSE 0.1 path.
    return (
        f"CAST(CASE TRY_CAST(regexp_extract({src}, '([0-9]+)$', 1)"
        " AS INTEGER)"
        " % 4 WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 WHEN 2 THEN 0.25 "
        "ELSE 0.1 END AS DOUBLE)"
    )


def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix downsampling: per-source target rates applied with a
    deterministic hash-Bernoulli (uniform = first 15 md5 hex chars of
    the doc id / 16^15 — reproducible across engines and runs, no RNG).
    Emits per-source totals so the oracle value-checks both the rate
    derivation and the hash-gate population."""
    d = load(spark, sf_dir, "documents")
    rate = F.expr(_mix_rate_sql("source"))
    u = F.conv(
        F.substring(F.md5(col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("double") / F.lit(float(16**15))
    keep = (u < rate).cast("int")
    return (
        d.select("source", rate.alias("rate"), keep.alias("keep"))
        .groupBy("source", "rate")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum("keep").cast("bigint").alias("n_kept"),
        )
    )


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per document (cheap perplexity proxy; see
    ``operators/text.token_entropy``). Rounded to 6 and signed-zero
    normalized on BOTH sides: an all-equal-token doc's entropy is a
    floating ~0 whose sign may differ between libm implementations."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tx.tokens(col("text"))).cast("bigint").alias("n_tokens"),
        (F.round(tx.token_entropy(col("text")), 6) + F.lit(0.0)).alias(
            "token_entropy"
        ),
    )


def q_sq8_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization fidelity: encode → decode every
    embedding and report max reconstruction error + cosine similarity
    between the original and dequantized vector. One scan, no shuffle —
    the compression sweep a 100 TB embedding store runs before
    switching its ANN index to quantized codes."""
    from interop_spark.operators.similarity import (
        as_double,
        cosine_sim,
        sq8_decode,
        sq8_encode,
    )

    e = load(spark, sf_dir, "embeddings")
    x = as_double(col("embedding"))
    xp = sq8_decode(sq8_encode(col("embedding")))
    return e.select(
        "vec_id",
        F.round(
            F.array_max(F.zip_with(x, xp, lambda a, b: F.abs(a - b))), 9
        ).alias("max_abs_err"),
        F.round(cosine_sim(x, xp), 9).alias("cosine_fidelity"),
    )


PQ_M = 4  # subspaces (dim 64 → 16-dim subvectors)
PQ_K = 4  # codewords per subspace
PQ_ITERS = 1  # Lloyd iterations per codebook
PQ_QUERY_ID = 1  # ADC search query vector
PQ_TOPK = 10


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding as a driver query: train M=4
    codebooks (first-k seeding + 1 Lloyd iteration under L2, the
    round-9 cross-engine posture throughout) and emit every vector's
    codes as (vec_id, m, code) rows — an all-integer output, so the
    value hash pins the entire train→encode pipeline including the
    argmin tie-breaks."""
    from interop_spark.operators.pq import pq_encode, pq_train

    e = load(spark, sf_dir, "embeddings")
    cbs = pq_train(
        e, m_subspaces=PQ_M, k=PQ_K, iters=PQ_ITERS, dim=EMB_DIM
    )
    return pq_encode(e, cbs).select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    )


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC search as a driver query: train + encode (same params as
    `pq_encode`), then rank every vector by its approximate squared L2
    distance to the vec_id={PQ_QUERY_ID} query via M table lookups —
    the search half of the PQ pipeline, top-k boundary pinned by the
    round-9 distance + id tie-break."""
    from interop_spark.operators.pq import pq_adc_topk, pq_encode, pq_train

    e = load(spark, sf_dir, "embeddings")
    cbs = pq_train(
        e, m_subspaces=PQ_M, k=PQ_K, iters=PQ_ITERS, dim=EMB_DIM
    )
    q = [
        float(x)
        for x in e.where(col("vec_id") == PQ_QUERY_ID)
        .select("embedding")
        .collect()[0][0]
    ]
    return pq_adc_topk(pq_encode(e, cbs), q, cbs, k=PQ_TOPK)


IVFPQ_NPROBE = 2


def q_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index search as a driver query: coarse IVF cells
    (first-C centroids, `ivf_index_search`'s layout) store PQ codes
    (`pq_encode`'s codebooks), and the vec_id={PQ_QUERY_ID} query
    ADC-scores only its {IVFPQ_NPROBE} nearest cells — the realistic
    100 TB ANN layout, pinned end-to-end: cell assignment, probe
    selection, train→encode, and the ADC top-k boundary."""
    from interop_spark.operators.pq import ivfpq_search, pq_train

    # plain load: the Lloyd/encode/ADC passes are Arrow-vectorized
    # (pq_codes_udf), so a 32-way split of the small local table just
    # pays 32 Python round-trips per pass (interleaved A/B: spread
    # 2.10-2.58 s vs plain ~1.6 s per rep)
    e = load(spark, sf_dir, "embeddings")
    cent = e.where(col("vec_id") < N_CENTROIDS).select(
        col("vec_id").alias("centroid_id"), col("embedding").alias("centroid")
    )
    cbs = pq_train(
        e, m_subspaces=PQ_M, k=PQ_K, iters=PQ_ITERS, dim=EMB_DIM
    )
    q = [
        float(x)
        for x in e.where(col("vec_id") == PQ_QUERY_ID)
        .select("embedding")
        .collect()[0][0]
    ]
    return ivfpq_search(
        e, cent, cbs, q, k=PQ_TOPK, nprobe=IVFPQ_NPROBE
    )


def q_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + exact refinement (FAISS IndexRefineFlat shape) as a
    driver query: the ADC shortlist (3×k, same probe/tie posture as
    `ivfpq_search`) is re-scored with exact squared L2 on the raw
    vectors and re-ordered — pinning the full two-stage retrieval
    boundary: compressed-domain candidate set AND the exact-distance
    reordering on top of it."""
    from interop_spark.operators.pq import ivfpq_rerank, pq_train

    e = load(spark, sf_dir, "embeddings")
    cent = e.where(col("vec_id") < N_CENTROIDS).select(
        col("vec_id").alias("centroid_id"), col("embedding").alias("centroid")
    )
    cbs = pq_train(
        e, m_subspaces=PQ_M, k=PQ_K, iters=PQ_ITERS, dim=EMB_DIM
    )
    q = [
        float(x)
        for x in e.where(col("vec_id") == PQ_QUERY_ID)
        .select("embedding")
        .collect()[0][0]
    ]
    return ivfpq_rerank(
        e, cent, cbs, q, k=PQ_TOPK, shortlist=3 * PQ_TOPK,
        nprobe=IVFPQ_NPROBE,
    )


RERANK_SHORTLISTS = (PQ_TOPK, 3 * PQ_TOPK, 10 * PQ_TOPK)


def q_ivfpq_rerank_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortlist-sensitivity instrumentation for the two-stage IVF-PQ +
    exact-refinement path: recall@{PQ_TOPK} of ``ivfpq_rerank`` against
    exact squared-L2 ground truth at shortlist ∈ {{k, 3k, 10k}} —
    completing the recall-instrumentation family (ivf/mrl/minhash/
    countmin) for the rerank boundary specifically, where a too-small
    shortlist silently caps recall no matter how good the refinement
    is. Deterministic round-9 ranking + vec_id tie-breaks on both
    stages, so the whole sensitivity curve is one value-hashed row.

    Shape at scale: ground truth is one brute-force scan (priced once,
    as instrumentation); each sweep point reuses the same codebooks and
    probes ~nprobe/C of the corpus, and every recall join is on
    ≤{PQ_TOPK}-row sets."""
    from interop_spark.operators.pq import ivfpq_rerank, l2sq, pq_train
    from interop_spark.operators.similarity import (
        as_double,
        query_vector_literal,
    )

    e = load(spark, sf_dir, "embeddings")
    cent = e.where(col("vec_id") < N_CENTROIDS).select(
        col("vec_id").alias("centroid_id"), col("embedding").alias("centroid")
    )
    cbs = pq_train(
        e, m_subspaces=PQ_M, k=PQ_K, iters=PQ_ITERS, dim=EMB_DIM
    )
    q = [
        float(x)
        for x in e.where(col("vec_id") == PQ_QUERY_ID)
        .select("embedding")
        .collect()[0][0]
    ]
    qv = query_vector_literal(q)
    exact_topk = (
        e.select(
            "vec_id",
            F.round(
                l2sq(as_double(col("embedding")), as_double(qv)), 9
            ).alias("_d"),
        )
        .orderBy(col("_d").asc(), col("vec_id").asc())
        .limit(PQ_TOPK)
        .select("vec_id")
        .localCheckpoint()
    )
    parts = []
    for s in RERANK_SHORTLISTS:
        rr = ivfpq_rerank(
            e, cent, cbs, q, k=PQ_TOPK, shortlist=s, nprobe=IVFPQ_NPROBE
        ).select("vec_id")
        hits = rr.join(exact_topk, "vec_id").agg(
            F.count(F.lit(1)).alias("n_hit")
        )
        parts.append(
            hits.select(
                F.lit(s).alias("shortlist"),
                F.lit(PQ_TOPK).alias("k"),
                col("n_hit"),
                F.round(col("n_hit") / F.lit(float(PQ_TOPK)), 6).alias(
                    "recall"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _ivfpq_rerank_sweep_oracle() -> str:
    """Twin of q_ivfpq_rerank_sweep: the shared IVF-PQ chain's ADC
    distances cut at each sweep shortlist, exact-rescored to top-k, and
    intersected with the brute-force exact top-k."""
    exact_d = (
        f"round(list_sum(list_transform(generate_series(1, {EMB_DIM}),"
        f" i -> (CAST(e.embedding[i] AS DOUBLE)"
        f" - CAST(q.qe[i] AS DOUBLE))"
        f" * (CAST(e.embedding[i] AS DOUBLE)"
        f" - CAST(q.qe[i] AS DOUBLE)))), 9)"
    )
    ctes = [
        f"""qfull AS (
          SELECT embedding AS qe FROM embeddings
          WHERE vec_id = {PQ_QUERY_ID}
        )""",
        f"""exactk AS (
          SELECT e.vec_id FROM embeddings e, qfull q
          ORDER BY {exact_d} ASC, e.vec_id ASC LIMIT {PQ_TOPK}
        )""",
    ]
    parts = []
    for s in RERANK_SHORTLISTS:
        ctes.append(
            f"""cand{s} AS (
          SELECT vec_id FROM adc
          ORDER BY adc_dist ASC, vec_id ASC LIMIT {s}
        )"""
        )
        ctes.append(
            f"""rr{s} AS (
          SELECT e.vec_id FROM embeddings e
          JOIN cand{s} USING (vec_id), qfull q
          ORDER BY {exact_d} ASC, e.vec_id ASC LIMIT {PQ_TOPK}
        )"""
        )
        parts.append(
            f"""SELECT CAST({s} AS INTEGER) AS shortlist,
               CAST({PQ_TOPK} AS INTEGER) AS k,
               CAST(count(*) AS BIGINT) AS n_hit,
               round(CAST(count(*) AS DOUBLE) / {PQ_TOPK}, 6) AS recall
        FROM rr{s} JOIN exactk USING (vec_id)"""
        )
    return (
        _ivfpq_cte_chain()
        + ",\n        "
        + ",\n        ".join(ctes)
        + "\n        "
        + "\n        UNION ALL\n        ".join(parts)
    )


def _pq_chain(src: str = "embeddings", prefix: str = "") -> str:
    """Shared DuckDB CTE chain: train(M,k,1 iter) codebooks + every
    vector's codes, with the subspace as a DATA dimension — slice
    subvectors for every (vec, m), seed each subspace's codebook from
    the k lowest-id vectors, run one Lloyd step (argmin of the ROUND-9
    squared L2 via lexicographic struct min — ties to the lowest code,
    the fold's contract; per-(cell,pos) means rounded to 9; empty cells
    keep their seed codeword via the LEFT JOIN coalesce), then
    re-assign against the updated codebooks.

    ``src`` is the CTE/table providing (vec_id, embedding); ``prefix``
    injects CTEs ahead of ``sv`` (e.g. the IVF cell + residual chain
    for residual-encoded PQ)."""
    sub = EMB_DIM // PQ_M
    sv = (
        f"list_transform(list_slice(embedding, m * {sub} + 1,"
        f" m * {sub} + {sub}), x -> CAST(x AS DOUBLE))"
    )
    d2 = (
        f"round(list_sum(list_transform(generate_series(1, {sub}),"
        f" i -> (sv[i] - c[i]) * (sv[i] - c[i]))), 9)"
    )
    return f"""
        WITH {prefix}sv AS (
          SELECT vec_id, g.m, {sv} AS sv
          FROM {src}
          CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)
            AS g
        ),
        seed AS (
          SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1
                   AS code,
                 sv AS c
          FROM sv QUALIFY code < {PQ_K}
        ),
        a1 AS (
          SELECT s.vec_id, s.m,
                 (min({{'d': {d2.replace("c[i]", "sd.c[i]")
                              .replace("sv[i]", "s.sv[i]")},
                       'k': sd.code}})).k AS cell
          FROM sv s JOIN seed sd ON s.m = sd.m
          GROUP BY s.vec_id, s.m
        ),
        upd AS (
          SELECT a1.m, a1.cell AS code,
                 g.i AS pos, round(avg(s.sv[g.i]), 9) AS comp
          FROM a1
          JOIN sv s ON a1.vec_id = s.vec_id AND a1.m = s.m
          CROSS JOIN generate_series(1, {sub}) AS g(i)
          GROUP BY a1.m, a1.cell, g.i
        ),
        upd_arr AS (
          SELECT m, code, list(comp ORDER BY pos) AS c
          FROM upd GROUP BY m, code
        ),
        cb AS (
          SELECT seed.m, seed.code, coalesce(upd_arr.c, seed.c) AS c
          FROM seed LEFT JOIN upd_arr
            ON seed.m = upd_arr.m AND seed.code = upd_arr.code
        ),
        codes AS (
          SELECT s.vec_id, CAST(s.m AS INTEGER) AS m,
                 CAST((min({{'d': {d2.replace("c[i]", "cb.c[i]")
                                   .replace("sv[i]", "s.sv[i]")},
                       'k': cb.code}})).k AS INTEGER) AS code
          FROM sv s JOIN cb ON s.m = cb.m
          GROUP BY s.vec_id, s.m
        )"""


def _pq_encode_oracle() -> str:
    return _pq_chain() + "\n        SELECT vec_id, m, code FROM codes"


def _pq_adc_oracle() -> str:
    """ADC search twin: the query vector's per-subspace distance to
    every codeword (the table pq_adc_topk computes driver-side), summed
    over each vector's codes and rounded to 9 before the ranked top-k
    (adc order then vec_id — the operator's deterministic tie-break)."""
    sub = EMB_DIM // PQ_M
    return (
        _pq_chain()
        + f""",
        q AS (SELECT m, sv AS qv FROM sv WHERE vec_id = {PQ_QUERY_ID}),
        tbl AS (
          SELECT cb.m, cb.code,
                 list_sum(list_transform(generate_series(1, {sub}),
                   i -> (q.qv[i] - cb.c[i]) * (q.qv[i] - cb.c[i]))) AS d
          FROM cb JOIN q ON cb.m = q.m
        )
        SELECT c.vec_id, round(sum(t.d), 9) AS adc_dist
        FROM codes c JOIN tbl t ON c.m = t.m AND c.code = t.code
        GROUP BY c.vec_id
        ORDER BY adc_dist ASC, c.vec_id ASC LIMIT {PQ_TOPK}
    """
    )


SUBDUP_W = 40  # window width (chars)
SUBDUP_S = 10  # stride
SUBDUP_CAP = 64  # max docs sharing a window hash


def q_substring_dup_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (Lee et al. 2022 family) as a driver
    query: strided {SUBDUP_W}-char window hashes → cross-doc equi-join
    → per-diagonal run merge into maximal duplicated spans. All-integer
    output pins window placement, the hash join, and the run-merge
    boundaries."""
    from interop_spark.operators.dedup import substring_dup_runs

    # load_spread: the strided window-hash pass dominates
    d = load_spread(spark, sf_dir, "documents")
    return substring_dup_runs(
        d, w=SUBDUP_W, stride=SUBDUP_S, max_hash_docs=SUBDUP_CAP
    )


def _substring_dup_oracle() -> str:
    """Run-merge twin: the same stride grid via generate_series, the
    same md5 window hashes, DuckDB window functions for the
    new-run/run-id merge."""
    w, s, cap = SUBDUP_W, SUBDUP_S, SUBDUP_CAP
    return f"""
        WITH d AS (
          SELECT doc_id, text,
                 CASE WHEN length(text) >= {w}
                      THEN (length(text) - {w}) // {s} + 1 ELSE 0 END AS n
          FROM documents
        ),
        wins AS (
          SELECT doc_id, u.pos AS pos, u.h AS h
          FROM (SELECT doc_id,
                       unnest(list_transform(generate_series(0, n - 1),
                         i -> struct_pack(pos := i*{s} + 1,
                                h := md5(substr(text, i*{s} + 1, {w})))))
                         AS u
                FROM d)
        ),
        keep AS (
          SELECT h FROM wins GROUP BY h
          HAVING count(DISTINCT doc_id) <= {cap}
        ),
        w2 AS (SELECT wins.* FROM wins JOIN keep USING (h)),
        m AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
          FROM w2 a JOIN w2 b ON a.h = b.h AND a.doc_id < b.doc_id
        ),
        r AS (
          SELECT *,
                 CASE WHEN lag(pos_a) OVER win IS NULL
                        OR pos_a - lag(pos_a) OVER win <> {s}
                      THEN 1 ELSE 0 END AS nr
          FROM m
          WINDOW win AS (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a)
        ),
        r2 AS (
          SELECT *,
                 sum(nr) OVER (PARTITION BY doc_a, doc_b, diag
                               ORDER BY pos_a
                               ROWS UNBOUNDED PRECEDING) AS run_id
          FROM r
        )
        SELECT doc_a, doc_b,
               CAST(min(pos_a) AS INTEGER) AS start_a,
               CAST(min(pos_b) AS INTEGER) AS start_b,
               CAST(max(pos_a) - min(pos_a) + {w} AS INTEGER) AS match_len,
               count(*) AS n_windows
        FROM r2 GROUP BY doc_a, doc_b, diag, run_id
    """


def q_ivfpq_residual_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with residual encoding as a driver query (same cells,
    codebook params, query, and probe count as `ivfpq_search`): PQ
    trains on x − centroid(cell) and ADC scores against per-cell query
    residual tables — pins the residual projection, the residual-space
    train→encode, and the cell-keyed ADC boundary."""
    from interop_spark.operators.pq import ivfpq_residual_search

    e = load(spark, sf_dir, "embeddings")
    cent = e.where(col("vec_id") < N_CENTROIDS).select(
        col("vec_id").alias("centroid_id"), col("embedding").alias("centroid")
    )
    q = [
        float(x)
        for x in e.where(col("vec_id") == PQ_QUERY_ID)
        .select("embedding")
        .collect()[0][0]
    ]
    return ivfpq_residual_search(
        e,
        cent,
        q,
        m_subspaces=PQ_M,
        k_codes=PQ_K,
        iters=PQ_ITERS,
        k=PQ_TOPK,
        nprobe=IVFPQ_NPROBE,
        dim=EMB_DIM,
    )


def _ivfpq_residual_oracle() -> str:
    """Residual twin: the IVF cell chain feeds a residual CTE that
    becomes `_pq_chain`'s source, and ADC joins a per-cell table built
    from the query's residual against each centroid."""
    sub = EMB_DIM // PQ_M
    prefix = f"""cent AS (
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
        res AS (
          SELECT e.vec_id,
                 list_transform(generate_series(1, {EMB_DIM}),
                   i -> CAST(e.embedding[i] AS DOUBLE)
                        - CAST(c.centroid[i] AS DOUBLE)) AS embedding
          FROM embeddings e
          JOIN cells ce ON e.vec_id = ce.vec_id
          JOIN cent c ON ce.cell = c.centroid_id
        ),
        """
    return (
        _pq_chain(src="res", prefix=prefix)
        + f""",
        qcells AS (
          SELECT centroid_id FROM sims WHERE vec_id = {PQ_QUERY_ID}
          ORDER BY v DESC, centroid_id DESC LIMIT {IVFPQ_NPROBE}
        ),
        qres AS (
          SELECT c.centroid_id AS cell,
                 list_transform(generate_series(1, {EMB_DIM}),
                   i -> CAST(q.embedding[i] AS DOUBLE)
                        - CAST(c.centroid[i] AS DOUBLE)) AS qr
          FROM cent c
          CROSS JOIN (SELECT embedding FROM embeddings
                      WHERE vec_id = {PQ_QUERY_ID}) q
        ),
        qsv AS (
          SELECT cell, g.m,
                 list_transform(list_slice(qr, g.m * {sub} + 1,
                   g.m * {sub} + {sub}), x -> x) AS qv
          FROM qres
          CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)
            AS g
        ),
        tbl AS (
          SELECT qsv.cell, cb.m, cb.code,
                 list_sum(list_transform(generate_series(1, {sub}),
                   i -> (qsv.qv[i] - cb.c[i]) * (qsv.qv[i] - cb.c[i]))) AS d
          FROM cb JOIN qsv ON cb.m = qsv.m
        )
        SELECT c.vec_id, cl.cell, round(sum(t.d), 9) AS adc_dist
        FROM codes c
        JOIN cells cl ON c.vec_id = cl.vec_id
        JOIN tbl t ON t.cell = cl.cell AND c.m = t.m AND c.code = t.code
        WHERE cl.cell IN (SELECT centroid_id FROM qcells)
        GROUP BY c.vec_id, cl.cell
        ORDER BY adc_dist ASC, c.vec_id ASC LIMIT {PQ_TOPK}
    """
    )


QC_BUCKETS = 64
# deterministic pseudo-trained weights (a real deployment loads a
# trained vector; the SAME list feeds the Spark literal AND the oracle
# SQL, so the check pins the inference plumbing, not the training).
# DYADIC values (k/1024): each weight is exactly representable and a
# few hundred of them sum EXACTLY in double, so both engines compute
# bit-identical scores — no round-boundary ULP flips.
QC_WEIGHTS = [
    ((b * 2654435761) % 2049 - 1024) / 1024
    for b in range(QC_BUCKETS)
]
QC_BIAS = 0.0625  # 1/16, dyadic
QC_THRESHOLD = 0.0


def q_quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based corpus filtering (the fastText-architecture
    linear scorer of Joulin et al. 2016, as used by modern quality
    filters): per-doc hashed-bag-of-words logit + keep flag at a
    threshold. One zero-shuffle projection over the corpus."""
    d = load(spark, sf_dir, "documents")
    score = tx.hashed_linear_logit(col("text"), QC_WEIGHTS, QC_BIAS)
    return d.select(
        "doc_id",
        score.alias("score"),
        (score > F.lit(QC_THRESHOLD)).alias("keep"),
    )


def _quality_classifier_oracle() -> str:
    # NULL-text guard: Spark's hashed_linear_logit folds over NULL tokens
    # and yields a NULL score (keep = NULL); without the CASE the
    # coalesce(list_sum, 0)/greatest(len, 1) pair would score NULL text
    # as `bias`. The documents fixture has no NULL text today, but fixture
    # regeneration is a known drift mode — both engines must agree by
    # construction, not by fixture luck (pinned in
    # tests/test_operators_ext.py::test_quality_classifier_null_text).
    w_sql = "[" + ", ".join(repr(float(w)) for w in QC_WEIGHTS) + "]"
    toks = "string_split_regex(trim(text), '\\s+')"
    bucket = (
        f"CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % {QC_BUCKETS}"
    )
    return f"""
        WITH s AS (
          SELECT doc_id,
                 CASE WHEN text IS NULL THEN NULL ELSE
                 round(coalesce(list_sum(list_transform({toks},
                         t -> ({w_sql})[({bucket}) + 1])), 0)
                       / greatest(len({toks}), 1) + {QC_BIAS}, 6)
                 END AS score
          FROM documents
        )
        SELECT doc_id, score, score > {QC_THRESHOLD} AS keep FROM s
    """


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE BPE encoding (Sennrich 2016 merge loop) against the literal
    toy merge table — not the pre-tokenizer piece count of
    ``token_count_bpe``. Per doc: token count, total BPE piece count,
    and an order-independent hash over every (word → pieces) encoding
    (so two docs can't match by piece-count coincidence — the actual
    subword strings are pinned).

    Scale shape: the merge loop (the only Python here) runs once per
    DISTINCT word via an Arrow-batched pandas UDF — dictionary-encode,
    then equi-join the small (word → pieces) dictionary back onto the
    exploded token stream and aggregate. The token explode is the same
    shuffle any tokenizing pipeline pays; the Python side never sees
    the corpus, only the vocabulary."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(tx.tokens(col("text"))).alias("w")
    ).where(col("w") != "")
    vocab = words.select("w").distinct()
    enc = vocab.select("w", tx.bpe_pieces_udf()(col("w")).alias("pieces_str"))
    return (
        words.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.size(F.split(col("pieces_str"), " ")))
            .cast("bigint")
            .alias("n_pieces"),
            F.sum(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                col("w"), F.lit("->"), col("pieces_str")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
            ).alias("enc_hash"),
        )
    )


def _bpe_oracle() -> str:
    """Recursive-CTE replay of the identical merge loop: each recursion
    step fuses the LEFTMOST occurrence of the MIN-RANK applicable merge
    (a correlated ORDER BY rank LIMIT 1 splice on a chr(31)-delimited
    piece string); a word's terminal state is the row where no merge
    pattern occurs. chr(31) cannot appear in whitespace-split tokens."""
    mrows = ", ".join(
        f"({i}, chr(31) || '{a}' || chr(31) || '{b}' || chr(31),"
        f" chr(31) || '{a}{b}' || chr(31))"
        for i, (a, b) in enumerate(tx.DEFAULT_BPE_MERGES)
    )
    return f"""
        WITH RECURSIVE
        merges(rank, pat, rep) AS (SELECT * FROM (VALUES {mrows})),
        words AS (
          SELECT doc_id, unnest({_TOKENS}) AS w FROM documents
        ),
        vocab AS (SELECT DISTINCT w FROM words WHERE w <> ''),
        enc AS (
          SELECT w,
                 chr(31) || regexp_replace(w, '(.)', '\\1' || chr(31), 'g')
                   AS s
          FROM vocab
          UNION ALL
          SELECT w,
                 (SELECT substr(s, 1, position(m.pat IN s) - 1) || m.rep
                         || substr(s, position(m.pat IN s) + length(m.pat))
                  FROM merges m WHERE position(m.pat IN s) > 0
                  ORDER BY m.rank LIMIT 1)
          FROM enc
          WHERE EXISTS (SELECT 1 FROM merges m
                        WHERE position(m.pat IN s) > 0)
        ),
        pieced AS (
          SELECT w,
                 replace(trim(s, chr(31)), chr(31), ' ') AS pieces_str
          FROM enc
          WHERE NOT EXISTS (SELECT 1 FROM merges m
                            WHERE position(m.pat IN s) > 0)
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(len(string_split(p.pieces_str, ' '))) AS BIGINT)
                 AS n_pieces,
               CAST(sum(CAST(concat('0x',
                        substr(md5(concat(w, '->', p.pieces_str)), 1, 8))
                      AS BIGINT)) AS BIGINT) AS enc_hash
        FROM words JOIN pieced p USING (w)
        WHERE w <> ''
        GROUP BY doc_id
    """


SEMDEDUP_N = 500  # corpus slice
SEMDEDUP_CLONES = 100  # planted semantic duplicates
SEMDEDUP_OFF = 10_000_000  # clone id offset
SEMDEDUP_TAU = 0.95


def q_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) as a driver query: IVF cells over a
    {SEMDEDUP_N}-vector slice unioned with {SEMDEDUP_CLONES} exact
    clones (so the semantic-duplicate set is non-empty at every scale),
    within-cell >= tau pruning keeping the lowest-centroid-cosine
    representative. Output = the kept rows."""
    from interop_spark.operators.similarity import semdedup

    e = load(spark, sf_dir, "embeddings").where(
        col("vec_id") < SEMDEDUP_N
    )
    clones = e.where(col("vec_id") < SEMDEDUP_CLONES).select(
        (col("vec_id") + SEMDEDUP_OFF).alias("vec_id"), "embedding"
    )
    corpus = e.select("vec_id", "embedding").unionAll(clones)
    cent = e.where(col("vec_id") < N_CENTROIDS).select(
        col("vec_id").alias("centroid_id"), col("embedding").alias("centroid")
    )
    return semdedup(corpus, cent, tau=SEMDEDUP_TAU)


def _semdedup_oracle() -> str:
    """Twin of the cluster-then-prune pipeline: cells via the round-9
    argmax (ties to the largest centroid id), centroid cosines round-9
    for the keep-rule compare (round-6 in the output), the drop rule as
    an EXISTS over within-cell >= tau pairs."""
    return f"""
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings
          WHERE vec_id < {SEMDEDUP_N}
          UNION ALL
          SELECT vec_id + {SEMDEDUP_OFF}, embedding FROM embeddings
          WHERE vec_id < {SEMDEDUP_CLONES}
        ),
        cent AS (
          SELECT vec_id AS centroid_id, embedding AS centroid
          FROM embeddings WHERE vec_id < {N_CENTROIDS}
        ),
        sims AS (
          SELECT e.vec_id, c.centroid_id,
                 round({_dk_dot('e.embedding', 'c.centroid')}
                       / greatest({_dk_norm('e.embedding')}
                                  * {_dk_norm('c.centroid')}, 1e-12), 9) AS v
          FROM corpus e, cent c
        ),
        cells AS (
          SELECT vec_id, (max({{'v': v, 'k': centroid_id}})).k AS cell
          FROM sims GROUP BY vec_id
        ),
        scored AS (
          SELECT ce.vec_id, ce.cell, e.embedding,
                 round({_dk_dot('e.embedding', 'c.centroid')}
                       / greatest({_dk_norm('e.embedding')}
                                  * {_dk_norm('c.centroid')}, 1e-12), 9)
                   AS ccos9
          FROM cells ce
          JOIN corpus e USING (vec_id)
          JOIN cent c ON ce.cell = c.centroid_id
        ),
        dropped AS (
          SELECT DISTINCT a.vec_id
          FROM scored a JOIN scored b
            ON a.cell = b.cell AND a.vec_id <> b.vec_id
          WHERE round({_dk_dot('a.embedding', 'b.embedding')}
                      / greatest({_dk_norm('a.embedding')}
                                 * {_dk_norm('b.embedding')}, 1e-12), 9)
                  >= {SEMDEDUP_TAU}
            AND (b.ccos9 < a.ccos9
                 OR (b.ccos9 = a.ccos9 AND b.vec_id < a.vec_id))
        )
        SELECT s.vec_id, s.cell, round(s.ccos9, 6) AS ccos
        FROM scored s
        WHERE s.vec_id NOT IN (SELECT vec_id FROM dropped)
    """


WINNOW_K = 20  # k-gram width (chars)
WINNOW_W = 8  # winnowing window (k-gram hashes)


def q_winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint dedup (Schleimer et al. 2003) as a driver
    query: per-doc k-gram hashes → rightmost-min-per-window selection →
    cross-doc fingerprint equi-join — the offset-ROBUST complement to
    `substring_dup_runs`' stride grid (guarantee: any >= w+k-1 char
    shared substring is caught regardless of alignment)."""
    from interop_spark.operators.dedup import winnow_dup_pairs

    # load_spread: the k-gram md5 + per-window struct-min selection is
    # the query's dominant cost and runs over the FULL corpus
    d = load_spread(spark, sf_dir, "documents")
    return winnow_dup_pairs(d, k=WINNOW_K, w=WINNOW_W, max_hash_docs=64)


def _winnow_oracle() -> str:
    """Selection twin: the identical (h, -pos) struct-min rule via
    list_sort(...)[1] over list slices (list_aggregate('min') does not
    support struct elements) — lexicographic struct ordering picks min
    hash then rightmost position in both engines."""
    k, w, cap = WINNOW_K, WINNOW_W, 64
    return f"""
        WITH hs AS (
          SELECT doc_id,
                 CASE WHEN length(text) - {k} + 1 >= 1
                      THEN list_transform(
                             generate_series(1, length(text) - {k} + 1),
                             p -> struct_pack(h := md5(substr(text, p, {k})),
                                              np := -p))
                      ELSE [] END AS a
          FROM documents
        ),
        sel AS (
          SELECT doc_id,
                 CASE WHEN len(a) >= {w}
                      THEN list_transform(
                             generate_series(1, len(a) - {w} + 1),
                             i -> (list_sort(
                                     list_slice(a, i, i + {w} - 1)))[1])
                      ELSE [] END AS fps
          FROM hs
        ),
        fp AS (
          -- row-level DISTINCT stands in for Spark's array_distinct
          -- (list_distinct on struct lists is unimplemented)
          SELECT DISTINCT doc_id, u.h AS h, -u.np AS pos
          FROM (SELECT doc_id, unnest(fps) AS u FROM sel)
        ),
        keep AS (
          SELECT h FROM fp GROUP BY h
          HAVING count(DISTINCT doc_id) <= {cap}
        ),
        f2 AS (SELECT fp.* FROM fp JOIN keep USING (h))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(DISTINCT a.h) AS n_shared,
               CAST(min(a.pos) AS INTEGER) AS first_a,
               CAST(min(b.pos) AS INTEGER) AS first_b
        FROM f2 a JOIN f2 b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    """


def _ivfpq_cte_chain() -> str:
    """Shared IVF-PQ CTE chain: `_pq_chain` train/encode composed with
    `ivf_index_search`'s cell CTEs — ADC distances summed per vector,
    restricted to the query's nprobe cells (probe ranking = round-9
    cosine DESC then centroid_id DESC, `query_cells`' tie order) — up
    through an ``adc`` CTE so search and rerank twins compose."""
    sub = EMB_DIM // PQ_M
    return (
        _pq_chain()
        + f""",
        cent AS (
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
          SELECT centroid_id FROM sims WHERE vec_id = {PQ_QUERY_ID}
          ORDER BY v DESC, centroid_id DESC LIMIT {IVFPQ_NPROBE}
        ),
        q AS (SELECT m, sv AS qv FROM sv WHERE vec_id = {PQ_QUERY_ID}),
        tbl AS (
          SELECT cb.m, cb.code,
                 list_sum(list_transform(generate_series(1, {sub}),
                   i -> (q.qv[i] - cb.c[i]) * (q.qv[i] - cb.c[i]))) AS d
          FROM cb JOIN q ON cb.m = q.m
        ),
        adc AS (
          SELECT c.vec_id, cl.cell, round(sum(t.d), 9) AS adc_dist
          FROM codes c
          JOIN cells cl ON c.vec_id = cl.vec_id
          JOIN tbl t ON c.m = t.m AND c.code = t.code
          WHERE cl.cell IN (SELECT centroid_id FROM qcells)
          GROUP BY c.vec_id, cl.cell
        )"""
    )


def _ivfpq_oracle() -> str:
    """IVF-PQ twin: the shared chain's ADC distances at the round-9 +
    vec_id-tie top-k boundary."""
    return (
        _ivfpq_cte_chain()
        + f"""
        SELECT vec_id, cell, adc_dist FROM adc
        ORDER BY adc_dist ASC, vec_id ASC LIMIT {PQ_TOPK}
    """
    )


def _ivfpq_rerank_oracle() -> str:
    """Rerank twin: the chain's ADC shortlist (3k, same tie order) has
    its RAW vectors re-scored with exact round-9 squared L2 against the
    full query vector; final top-k ordered by the exact distance."""
    return (
        _ivfpq_cte_chain()
        + f""",
        cand AS (
          SELECT vec_id, cell, adc_dist FROM adc
          ORDER BY adc_dist ASC, vec_id ASC LIMIT {3 * PQ_TOPK}
        ),
        qfull AS (
          SELECT embedding AS qe FROM embeddings
          WHERE vec_id = {PQ_QUERY_ID}
        )
        SELECT e.vec_id, cand.cell, cand.adc_dist,
               round(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                 i -> (CAST(e.embedding[i] AS DOUBLE)
                       - CAST(q.qe[i] AS DOUBLE))
                    * (CAST(e.embedding[i] AS DOUBLE)
                       - CAST(q.qe[i] AS DOUBLE)))), 9) AS exact_dist
        FROM embeddings e
        JOIN cand ON e.vec_id = cand.vec_id, qfull q
        ORDER BY exact_dist ASC, e.vec_id ASC LIMIT {PQ_TOPK}
    """
    )


# --------------------------------------------------------------------------
# Round-10: the composed PRETRAINING-DATA pipeline — the end-to-end shape
# a training-data job runs (quality filter → language filter → exact
# dedup → shard-packed context windows), with per-stage accounting in ONE
# corpus pass.
# --------------------------------------------------------------------------

PP_MIN_TOKENS = 12  # quality gate: too-short docs out
PP_MAX_CHARS = 400  # quality gate: over-long docs out
PP_LANGS = ("en", "de", "fr")  # language allow-list


def q_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed pretraining-data pipeline with per-stage accounting:
    raw → quality (token/char bounds) → language allow-list → exact
    fingerprint dedup (first-occurrence-wins among survivors) → greedy
    shard packing into {PACK_CAPACITY}-token context windows.

    Scale shape — ONE corpus scan: every stage is a per-row FLAG over
    the same projection (no per-stage re-scan; a naive stage-by-stage
    job reads the corpus once per stage), the dedup representative is
    one fingerprint-keyed window, and the accounting is conditional
    aggregation over the flags. The flag frame is localCheckpoint-ed
    because both the accounting aggregate and the packing aggregate
    consume it (two consumers, hash once). All outputs are integer
    counts — no float-order sensitivity. ``n_windows`` uses integer
    ceiling division ((s + cap - 1) div cap), exact in both engines."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        tx.token_count(col("text")).cast("bigint").alias("n_tok"),
        F.length(col("text")).alias("n_chr"),
        tx.fingerprint(col("text")).alias("_fp"),
    )
    q_ok = (col("n_tok") >= PP_MIN_TOKENS) & (col("n_chr") <= PP_MAX_CHARS)
    flags = base.select(
        "doc_id", "n_tok", "_fp", q_ok.alias("q_ok"),
        (q_ok & col("lang").isin(*PP_LANGS)).alias("l_ok"),
    )
    keepmin = F.min(F.when(col("l_ok"), col("doc_id"))).over(
        Window.partitionBy("_fp")
    )
    flags = flags.withColumn(
        "keep", col("l_ok") & (col("doc_id") == keepmin)
    ).localCheckpoint()

    def _n(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    def _t(cond):
        return F.sum(F.when(cond, col("n_tok")).otherwise(0))

    acct = flags.agg(
        F.count(F.lit(1)).alias("raw_docs"),
        F.sum("n_tok").alias("raw_tokens"),
        _n(col("q_ok")).alias("quality_docs"),
        _t(col("q_ok")).alias("quality_tokens"),
        _n(col("l_ok")).alias("lang_docs"),
        _t(col("l_ok")).alias("lang_tokens"),
        _n(col("keep")).alias("dedup_docs"),
        _t(col("keep")).alias("dedup_tokens"),
    )
    win = (
        flags.where(col("keep"))
        .groupBy((col("doc_id") % PACK_GROUPS).alias("grp"))
        .agg(F.sum("n_tok").alias("s"))
        .agg(
            F.sum(
                F.expr(f"(s + {PACK_CAPACITY - 1}) div {PACK_CAPACITY}")
            ).alias("n_windows")
        )
    )
    return acct.crossJoin(win)


# --------------------------------------------------------------------------
# Round-10: encoding-quality gate + frequency-based boilerplate removal
# --------------------------------------------------------------------------

BP_LIMIT = 200  # docs in the planted-boilerplate slice
BP_MAX_DF = 3  # lines in more docs than this are boilerplate
BP_LINE_A = "Subscribe to our newsletter today"
BP_LINE_B = "All rights reserved."


def q_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-health signals (the ftfy-class gate) over a corpus with
    PLANTED damage: every 7th doc gets a mojibake suffix (UTF-8 é read
    as Latin-1 → 'Ã©'), every 7th+1 two U+FFFD replacement chars, every
    7th+2 a BEL control char — each a closed-form mutation both engines
    apply identically, so the regex counters and the composite enc_ok
    gate are value-hash-checked."""
    d = load(spark, sf_dir, "documents").where(col("doc_id") < 400)
    planted = d.select(
        "doc_id",
        F.when(
            col("doc_id") % 7 == 0,
            F.concat(col("text"), F.lit(" cafÃ©")),
        )
        .when(
            col("doc_id") % 7 == 1,
            F.concat(col("text"), F.lit(" ��")),
        )
        .when(
            col("doc_id") % 7 == 2, F.concat(col("text"), F.lit("\u0007"))
        )
        .otherwise(col("text"))
        .alias("text"),
    )
    q = tx.encoding_quality(col("text"))
    return planted.select(
        "doc_id",
        q["n_replacement"].alias("n_replacement"),
        q["n_control"].alias("n_control"),
        q["n_mojibake"].alias("n_mojibake"),
        q["enc_ok"].alias("enc_ok"),
    )


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based boilerplate line removal over planted nav/footer
    lines: every 3rd doc carries a shared newsletter line, every 5th a
    rights line — both exceed the document-frequency cap and must be
    excised from EVERY document (no representative survives, unlike
    paragraph_dedup). Output pins per-doc line counts and the md5 of the
    rebuilt text."""
    from interop_spark.operators.dedup import remove_boilerplate_lines

    d = load(spark, sf_dir, "documents").where(col("doc_id") < BP_LIMIT)
    docs = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            col("text"),
            F.when(col("doc_id") % 3 == 0, F.lit(BP_LINE_A)),
            F.when(col("doc_id") % 5 == 0, F.lit(BP_LINE_B)),
        ).alias("text"),
    )
    out = remove_boilerplate_lines(docs, "doc_id", "text", BP_MAX_DF)
    return out.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.md5(col("clean_text")).alias("clean_md5"),
    )


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script profiling over a corpus with PLANTED multilingual
    runs: every 11th doc gets a CJK suffix, 11th+1 Cyrillic, 11th+2
    Arabic — closed-form mutations both engines apply identically, so
    the per-script counters and the dominant-script verdict (max count,
    declaration-order tie-break) are value-hash-checked."""
    d = load(spark, sf_dir, "documents").where(col("doc_id") < 400)
    planted = d.select(
        "doc_id",
        F.when(
            col("doc_id") % 11 == 0,
            F.concat(col("text"), F.lit(" 汉字测试汉字")),
        )
        .when(
            col("doc_id") % 11 == 1,
            F.concat(col("text"), F.lit(" привет мир")),
        )
        .when(
            col("doc_id") % 11 == 2,
            F.concat(col("text"), F.lit(" مرحبا بالعالم")),
        )
        .otherwise(col("text"))
        .alias("text"),
    )
    s = tx.script_profile(col("text"))
    return planted.select(
        "doc_id",
        s["n_latin"].alias("n_latin"),
        s["n_cjk"].alias("n_cjk"),
        s["n_cyrillic"].alias("n_cyrillic"),
        s["n_arabic"].alias("n_arabic"),
        s["dominant"].alias("dominant"),
    )


def _script_profile_oracle() -> str:
    pats = {
        "latin": "[A-Za-z\\x{00c0}-\\x{024f}]",
        "cjk": "[\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}]",
        "cyrillic": "[\\x{0400}-\\x{04ff}]",
        "arabic": "[\\x{0600}-\\x{06ff}]",
    }
    cnt = {
        n: f"CAST(len(regexp_extract_all(text, '{p}')) AS INTEGER)"
        for n, p in pats.items()
    }
    return f"""
        WITH planted AS (
          SELECT doc_id,
                 CASE
                   WHEN doc_id % 11 = 0 THEN text || ' 汉字测试汉字'
                   WHEN doc_id % 11 = 1 THEN text || ' привет мир'
                   WHEN doc_id % 11 = 2 THEN text || ' مرحبا بالعالم'
                   ELSE text
                 END AS text
          FROM documents WHERE doc_id < 400
        ),
        c AS (
          SELECT doc_id, {cnt['latin']} AS n_latin, {cnt['cjk']} AS n_cjk,
                 {cnt['cyrillic']} AS n_cyrillic, {cnt['arabic']} AS n_arabic
          FROM planted
        )
        SELECT doc_id, n_latin, n_cjk, n_cyrillic, n_arabic,
               CASE
                 WHEN greatest(n_latin, n_cjk, n_cyrillic, n_arabic) = 0
                   THEN NULL
                 WHEN n_latin = greatest(n_latin, n_cjk, n_cyrillic, n_arabic)
                   THEN 'latin'
                 WHEN n_cjk = greatest(n_latin, n_cjk, n_cyrillic, n_arabic)
                   THEN 'cjk'
                 WHEN n_cyrillic
                      = greatest(n_latin, n_cjk, n_cyrillic, n_arabic)
                   THEN 'cyrillic'
                 ELSE 'arabic'
               END AS dominant
        FROM c
    """


def _encoding_quality_oracle() -> str:
    # RE2 twins of text._MOJIBAKE_RE / _CONTROL_RE (same codepoints,
    # \x{...} escapes) — regexp_count ≡ len(regexp_extract_all)
    moji = (
        "(\\x{00e2}\\x{20ac}"
        "[\\x{2122}\\x{0153}\\x{009d}\\x{201c}\\x{201d}\\x{2013}\\x{2014}]"
        "|[\\x{00c3}\\x{00c2}][\\x{0080}-\\x{00bf}])"
    )
    ctrl = "[\\x{0000}-\\x{0008}\\x{000b}\\x{000c}\\x{000e}-\\x{001f}\\x{007f}]"
    return f"""
        WITH planted AS (
          SELECT doc_id,
                 CASE
                   WHEN doc_id % 7 = 0 THEN text || ' caf' || chr(195) || chr(169)
                   WHEN doc_id % 7 = 1 THEN text || ' ' || chr(65533) || chr(65533)
                   WHEN doc_id % 7 = 2 THEN text || chr(7)
                   ELSE text
                 END AS text
          FROM documents WHERE doc_id < 400
        ),
        c AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, chr(65533))) AS INTEGER)
                   AS n_replacement,
                 CAST(len(regexp_extract_all(text, '{ctrl}')) AS INTEGER)
                   AS n_control,
                 CAST(len(regexp_extract_all(text, '{moji}')) AS INTEGER)
                   AS n_mojibake
          FROM planted
        )
        SELECT doc_id, n_replacement, n_control, n_mojibake,
               (n_replacement + n_control + n_mojibake = 0) AS enc_ok
        FROM c
    """


def _boilerplate_oracle() -> str:
    return f"""
        WITH docs AS (
          SELECT doc_id,
                 concat_ws(chr(10), text,
                   CASE WHEN doc_id % 3 = 0 THEN '{BP_LINE_A}' END,
                   CASE WHEN doc_id % 5 = 0 THEN '{BP_LINE_B}' END) AS text
          FROM documents WHERE doc_id < {BP_LIMIT}
        ),
        sp AS (SELECT doc_id, string_split(text, chr(10)) AS sp FROM docs),
        lines AS (
          SELECT doc_id, i - 1 AS pos, sp[i] AS line
          FROM sp, unnest(generate_series(1, len(sp))) AS g(i)
        ),
        hot AS (
          SELECT md5(line) AS h FROM lines WHERE trim(line) <> ''
          GROUP BY 1 HAVING count(DISTINCT doc_id) > {BP_MAX_DF}
        ),
        kept AS (
          SELECT l.doc_id, l.pos, l.line
          FROM lines l LEFT JOIN hot ON md5(l.line) = hot.h
          WHERE hot.h IS NULL
        ),
        total AS (
          SELECT doc_id, CAST(count(1) AS BIGINT) AS n_lines
          FROM lines GROUP BY 1
        ),
        k AS (
          SELECT doc_id, CAST(count(1) AS BIGINT) AS n_kept,
                 md5(string_agg(line, chr(10) ORDER BY pos)) AS cmd5
          FROM kept GROUP BY 1
        )
        SELECT t.doc_id, t.n_lines,
               t.n_lines - coalesce(k.n_kept, 0) AS n_removed,
               coalesce(k.cmd5, md5('')) AS clean_md5
        FROM total t LEFT JOIN k USING (doc_id)
    """


def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embeddings corpus by
    fixed-iteration power method (round-13, `operators/linalg.py`):
    covariance accumulated as ONE d×d partial per Arrow batch
    (mapInPandas treeAggregate shape — shuffle volume scales with task
    count, never N·d² row expansion), then 3 power steps as broadcast
    joins on the tiny d²-row matrix. Every derived quantity is rounded
    to 9 before feeding the next step, so the DuckDB oracle's unrolled
    CTE chain is bit-identical (the `kmeans_fit` determinism
    discipline); the eigenvector's sign ambiguity is fixed by making
    the largest-|loading| component non-negative."""
    from interop_spark.operators.linalg import pca_top_component

    e = load(spark, sf_dir, "embeddings")
    return pca_top_component(e)


def _pca_oracle(iters: int) -> str:
    """Unrolled power-method CTE chain replicating operators/linalg.py
    exactly: same /n biased covariance, same 9-decimal rounding at
    every step, same sign fix."""
    steps = []
    prev = "v0"
    for t in range(1, iters + 1):
        steps.append(f"""w{t} AS (
          SELECT c.i, round(sum(c.c * {prev}.vj), 9) AS w
          FROM c JOIN {prev} ON c.j = {prev}.j GROUP BY c.i
        ),
        n{t} AS (SELECT round(sqrt(sum(w * w)), 9) AS nrm FROM w{t}),
        v{t} AS (
          SELECT i AS j, round(w / (SELECT nrm FROM n{t}), 9) AS vj
          FROM w{t}
        )""")
        prev = f"v{t}"
    chain = ",\n        ".join(steps)
    from interop_spark.queries.pipeline import EMB_DIM

    return f"""
        WITH x AS (
          SELECT CAST(g.i - 1 AS INT) AS i,
                 CAST(e.embedding[g.i] AS DOUBLE) AS x, e.vec_id
          FROM embeddings e
          CROSS JOIN generate_series(1, {EMB_DIM}) AS g(i)
        ),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
        m AS (
          SELECT i, round(sum(x) / (SELECT n FROM nn), 9) AS m
          FROM x GROUP BY i
        ),
        g AS (
          SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS g
          FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2
        ),
        c AS (
          SELECT g.i, g.j,
                 round(g.g / (SELECT n FROM nn) - mi.m * mj.m, 9) AS c
          FROM g JOIN m mi ON g.i = mi.i JOIN m mj ON g.j = mj.i
        ),
        v0 AS (
          SELECT i AS j, CASE WHEN i = 0 THEN 1.0 ELSE 0.0 END AS vj
          FROM m
        ),
        {chain},
        flip AS (
          SELECT CASE WHEN s < 0 THEN -1.0 ELSE 1.0 END AS f
          FROM (SELECT sign(vj) AS s FROM {prev}
                ORDER BY abs(vj) DESC, j ASC LIMIT 1)
        )
        SELECT j AS dim,
               round(vj * (SELECT f FROM flip), 9) + 0.0 AS loading,
               round((SELECT nrm FROM n{iters}), 6) + 0.0 AS eigenvalue
        FROM {prev}
    """


QUERIES = {
    "pca_top_component": q_pca_top_component,
    "gopher_quality_flags": q_gopher_quality_flags,
    "gopher_repetition_signals": q_gopher_repetition_signals,
    "sequence_pack": q_sequence_pack,
    "domain_mix_sample": q_domain_mix_sample,
    "token_entropy": q_token_entropy,
    "sq8_roundtrip": q_sq8_roundtrip,
    "pq_encode": q_pq_encode,
    "pq_adc_topk": q_pq_adc_topk,
    "ivfpq_search": q_ivfpq_search,
    "ivfpq_rerank": q_ivfpq_rerank,
    "ivfpq_rerank_sweep": q_ivfpq_rerank_sweep,
    "ivfpq_residual_search": q_ivfpq_residual_search,
    "substring_dup_runs": q_substring_dup_runs,
    "winnow_dup_pairs": q_winnow_dup_pairs,
    "semdedup_keep": q_semdedup_keep,
    "quality_classifier_filter": q_quality_classifier_filter,
    "bpe_encode": q_bpe_encode,
    "ivf_index_search": q_ivf_index_search,
    "kmeans_one_step": q_kmeans_one_step,
    "kmeans_fit": q_kmeans_fit,
    "pii_redact": q_pii_redact,
    "decontam_ngram_overlap": q_decontam_ngram_overlap,
    "dup_ngram_stats": q_dup_ngram_stats,
    "pretrain_pipeline": q_pretrain_pipeline,
    "encoding_quality": q_encoding_quality,
    "boilerplate_lines": q_boilerplate_lines,
    "script_profile": q_script_profile,
}


ORACLE = {
    "pca_top_component": _pca_oracle(3),
    "gopher_quality_flags": f"""
        WITH t AS (
          SELECT doc_id, text, {_TOKENS} AS toks,
                 string_split(text, chr(10)) AS lines
          FROM documents
        ),
        s AS (
          SELECT doc_id,
                 CAST(len(toks) AS INTEGER) AS n_words,
                 round(list_sum(list_transform(toks, w -> len(w)))
                       / greatest(len(toks), 1), 4) AS mean_word_len,
                 round((length(text) - length(replace(text, '#', ''))
                        + len(regexp_extract_all(text, '(\\.\\.\\.|…)')))
                       * 1.0 / greatest(len(toks), 1), 4)
                   AS symbol_word_ratio,
                 round(len(list_filter(toks,
                           w -> regexp_matches(w, '[A-Za-z]')))
                       * 1.0 / greatest(len(toks), 1), 4)
                   AS alpha_word_ratio,
                 round(len(list_filter(lines,
                           l -> regexp_matches(l, '^\\s*([-*•])')))
                       * 1.0 / greatest(len(lines), 1), 4) AS bullet_ratio,
                 round(len(list_filter(lines,
                           l -> regexp_matches(l, '(\\.\\.\\.|…)$')))
                       * 1.0 / greatest(len(lines), 1), 4)
                   AS ellipsis_ratio,
                 round((len(lines) - len(list_distinct(lines)))
                       * 1.0 / greatest(len(lines), 1), 4) AS dup_line_ratio
          FROM t
        )
        SELECT *,
               (n_words BETWEEN 50 AND 100000
                AND mean_word_len BETWEEN 3 AND 10
                AND symbol_word_ratio < 0.1
                AND alpha_word_ratio >= 0.8
                AND bullet_ratio < 0.9
                AND ellipsis_ratio < 0.3
                AND dup_line_ratio <= 0.30) AS keep
        FROM s
    """,
    "ivf_index_search": f"""
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
          SELECT centroid_id FROM sims WHERE vec_id = 1
          ORDER BY v DESC, centroid_id DESC LIMIT 2
        ),
        q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 1)
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
    "kmeans_one_step": f"""
        WITH cent AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
                 embedding AS centroid
          FROM embeddings ORDER BY vec_id LIMIT {KM_K}
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
        )
        SELECT cells.cell AS centroid_id,
               g.i AS dim,
               round(round(avg(CAST(e.embedding[g.i] AS DOUBLE)), 9), 4) + 0.0
                 AS comp
        FROM cells
        JOIN embeddings e ON cells.vec_id = e.vec_id
        CROSS JOIN generate_series(1, {EMB_DIM}) AS g(i)
        GROUP BY cells.cell, g.i
    """,
    "kmeans_fit": _kmeans_fit_oracle(KM_FIT_K, KM_FIT_ITERS),
    "gopher_repetition_signals": _repetition_oracle(),
    "pq_encode": _pq_encode_oracle(),
    "pq_adc_topk": _pq_adc_oracle(),
    "ivfpq_search": _ivfpq_oracle(),
    "ivfpq_rerank": _ivfpq_rerank_oracle(),
    "ivfpq_rerank_sweep": _ivfpq_rerank_sweep_oracle(),
    "ivfpq_residual_search": _ivfpq_residual_oracle(),
    "substring_dup_runs": _substring_dup_oracle(),
    "winnow_dup_pairs": _winnow_oracle(),
    "semdedup_keep": _semdedup_oracle(),
    "quality_classifier_filter": _quality_classifier_oracle(),
    "bpe_encode": _bpe_oracle(),
    "sq8_roundtrip": f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
          FROM embeddings
        ),
        e AS (
          SELECT vec_id, x, list_min(x) AS mn,
                 (list_max(x) - list_min(x)) / 255.0 AS scale
          FROM v
        ),
        d AS (
          SELECT vec_id, x,
                 list_transform(x, xi -> mn +
                   (CASE WHEN scale > 0 THEN round((xi - mn) / scale)
                         ELSE 0 END) * scale) AS xp
          FROM e
        )
        SELECT vec_id,
               round(list_max(list_transform(
                 generate_series(1, {EMB_DIM}), i -> abs(x[i] - xp[i]))), 9)
                 AS max_abs_err,
               round({_dk_dot('x', 'xp')}
                     / greatest({_dk_norm('x')} * {_dk_norm('xp')}, 1e-12),
                     9) AS cosine_fidelity
        FROM d
    """,
    "token_entropy": f"""
        WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
        c AS (
          SELECT doc_id, count(*) AS c FROM (
            SELECT doc_id, unnest(toks) AS w FROM t
          ) GROUP BY doc_id, w
        ),
        s AS (
          SELECT doc_id,
                 sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s,
                 CAST(sum(c) AS DOUBLE) AS n
          FROM c GROUP BY doc_id
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
               round(ln(n) - s / n, 6) + 0.0 AS token_entropy
        FROM s
    """,
    "sequence_pack": f"""
        WITH t AS (
          SELECT doc_id, doc_id % {PACK_GROUPS} AS grp,
                 CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
          FROM documents
        ),
        c AS (
          SELECT doc_id, grp, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
          FROM t
        )
        SELECT doc_id, grp, n_tokens,
               CAST(floor((cum - n_tokens) / {PACK_CAPACITY}) AS BIGINT)
                 AS first_window,
               CAST(floor((cum - 1) / {PACK_CAPACITY}) AS BIGINT)
                 AS last_window
        FROM c
    """,
    "script_profile": _script_profile_oracle(),
    "encoding_quality": _encoding_quality_oracle(),
    "boilerplate_lines": _boilerplate_oracle(),
    "pretrain_pipeline": f"""
        WITH base AS (
          SELECT doc_id, lang,
                 CAST(len({_TOKENS}) AS BIGINT) AS n_tok,
                 length(text) AS n_chr,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS f
          FROM documents
        ),
        flags AS (
          SELECT doc_id, n_tok, f,
                 (n_tok >= {PP_MIN_TOKENS} AND n_chr <= {PP_MAX_CHARS})
                   AS q_ok,
                 (n_tok >= {PP_MIN_TOKENS} AND n_chr <= {PP_MAX_CHARS}
                  AND lang IN ({', '.join("'" + x + "'" for x in PP_LANGS)}))
                   AS l_ok
          FROM base
        ),
        keepf AS (
          SELECT *,
                 (l_ok AND doc_id = min(CASE WHEN l_ok THEN doc_id END)
                    OVER (PARTITION BY f)) AS keep
          FROM flags
        ),
        acct AS (
          SELECT CAST(count(1) AS BIGINT) AS raw_docs,
                 CAST(sum(n_tok) AS BIGINT) AS raw_tokens,
                 CAST(sum(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS quality_docs,
                 CAST(sum(CASE WHEN q_ok THEN n_tok ELSE 0 END) AS BIGINT)
                   AS quality_tokens,
                 CAST(sum(CASE WHEN l_ok THEN 1 ELSE 0 END) AS BIGINT)
                   AS lang_docs,
                 CAST(sum(CASE WHEN l_ok THEN n_tok ELSE 0 END) AS BIGINT)
                   AS lang_tokens,
                 CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS dedup_docs,
                 CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
                   AS dedup_tokens
          FROM keepf
        ),
        win AS (
          SELECT CAST(sum((s + {PACK_CAPACITY - 1}) // {PACK_CAPACITY})
                      AS BIGINT) AS n_windows
          FROM (
            SELECT doc_id % {PACK_GROUPS} AS grp, sum(n_tok) AS s
            FROM keepf WHERE keep GROUP BY 1
          )
        )
        SELECT * FROM acct, win
    """,
    "domain_mix_sample": f"""
        WITH t AS (
          SELECT source, {_mix_rate_sql('source')} AS rate,
                 CASE WHEN CAST(concat('0x',
                        substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) / CAST(power(16, 15) AS DOUBLE)
                      < {_mix_rate_sql('source')}
                      THEN 1 ELSE 0 END AS keep
          FROM documents
        )
        SELECT source, rate,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(keep) AS BIGINT) AS n_kept
        FROM t GROUP BY source, rate
    """,
    "pii_redact": f"""
        WITH t AS (
          SELECT doc_id,
                 text || ' Contact: user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or 555-01'
                      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                      || '.' AS t2
          FROM documents
        ),
        r AS (
          SELECT doc_id, t2,
                 regexp_replace(
                   regexp_replace(t2, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                   '{PII_PHONE_RE}', '[PHONE]', 'g') AS red
          FROM t
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t2, '{PII_EMAIL_RE}')) AS BIGINT)
                 AS n_emails,
               CAST(len(regexp_extract_all(t2, '{PII_PHONE_RE}')) AS BIGINT)
                 AS n_phones,
               md5(red) AS redacted_md5,
               CAST(length(red) AS BIGINT) AS redacted_len
        FROM r
    """,
    "decontam_ngram_overlap": f"""
        WITH ev AS (
          SELECT doc_id, text FROM documents WHERE doc_id < {DECONTAM_EVAL}
        ),
        train AS (
          SELECT doc_id + {DUP_OFFSET} AS doc_id,
                 substring(text, instr(text, ' ') + 1) AS text
          FROM ev
          UNION ALL
          SELECT doc_id, text FROM documents
          WHERE doc_id >= {DECONTAM_EVAL} AND doc_id < {DECONTAM_TRAIN_HI}
        ),
        tsh AS (
          SELECT doc_id AS train_doc_id,
                 md5(unnest(list_distinct(list_transform(
                   generate_series(1, greatest(
                     len(string_split_regex(trim(text), '\\s+'))
                     - {DECONTAM_N - 1}, 1)),
                   i -> array_to_string(
                     (string_split_regex(trim(text), '\\s+'))
                       [i:i+{DECONTAM_N - 1}], ' '))))) AS h
          FROM train
        ),
        esh AS (
          SELECT doc_id AS eval_doc_id,
                 md5(unnest(list_distinct(list_transform(
                   generate_series(1, greatest(
                     len(string_split_regex(trim(text), '\\s+'))
                     - {DECONTAM_N - 1}, 1)),
                   i -> array_to_string(
                     (string_split_regex(trim(text), '\\s+'))
                       [i:i+{DECONTAM_N - 1}], ' '))))) AS h
          FROM ev
        )
        SELECT train_doc_id, eval_doc_id,
               CAST(count(*) AS BIGINT) AS n_shared_ngrams
        FROM tsh JOIN esh USING (h)
        GROUP BY train_doc_id, eval_doc_id
    """,
    "dup_ngram_stats": f"""
        WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
        bg AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 1, 1)),
                   i -> array_to_string(toks[i:i+1], ' '))) AS bg
          FROM t
        ),
        c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_bigrams,
               CAST(max(c) AS BIGINT) AS top_bigram_n,
               CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
                 AS top_bigram_frac
        FROM c GROUP BY doc_id
    """,
}
