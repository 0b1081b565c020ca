"""Data-selection / retrieval / CDC rows.

Adds five oracle-backed driver queries:

- ``dsir_importance`` — DSIR importance weighting (Xie et al. 2023)
- ``bm25_topk`` — Okapi BM25 lexical retrieval top-k
- ``minhash_est_error`` — MinHash estimate-vs-exact Jaccard
  instrumentation (the dedup analog of ``ivf_recall_at_k``: a sketch
  quality regression would otherwise stay green)
- ``percentile_agg`` — exact linear-interpolation percentiles
- ``scd2_intervals`` — SCD-2 validity intervals from an event stream
  (the change-data-capture shape the reference's Delta MERGE sinks
  feed; cf. `01_dbignite_sample.py:221-223`'s upsert tables)
- ``lm_perplexity_filter`` — CCNet-style LM quality filtering
  (Wenzek et al. 2020): bigram LM trained on a reference slice,
  per-doc mean negative log-likelihood + keep flag
- ``unimax_sample`` — UniMax-style language-balanced sampling
  (Chung et al. 2023): per-language budget as an exact integer
  hash-Bernoulli rate — no window, no skewed per-language sort
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from interop_spark.io import load, load_spread
from interop_spark.operators import dedup as dd
from interop_spark.operators import retrieval as rt
from interop_spark.operators.text import tokens as tx_tokens
from interop_spark.queries.pipeline import (
    BANDS,
    DUP_OFFSET,
    MINHASH_K,
    ROWS,
    SHINGLE_N,
    _dk_band_keys,
    _dk_minhash_sig,
    _dk_shingles,
    _with_near_dups,
)

DSIR_TARGET_LANG = "en"
BM25_TERMS = ("hash", "join", "vector", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
_PCTS = (0.25, 0.5, 0.75, 0.9)


# --------------------------------------------------------------------------
# DSIR importance weighting
# --------------------------------------------------------------------------

def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023) importance weighting: fit hashed-bigram
    bucket log-ratios with English docs as the target distribution, then
    score every document with its log importance weight and the
    resample-keep flag (λ-sum > 0 ⇔ doc looks more target- than
    raw-like). Fit = one explode + 256-key groupBy collected to the
    driver (the broadcast-the-model pattern); score = one zero-shuffle
    row-local fold."""
    d = load(spark, sf_dir, "documents")
    lam = rt.dsir_fit_logratios(
        d.withColumn("_is_t", col("lang") == DSIR_TARGET_LANG),
        "text",
        "_is_t",
    )
    score = F.round(rt.dsir_logratio(col("text"), lam), 6) + F.lit(0.0)
    return d.select(
        "doc_id",
        score.alias("dsir_logratio"),
        (score > F.lit(0.0)).alias("keep"),
    )


def _dsir_oracle() -> str:
    nb = rt.DSIR_BUCKETS
    toks = "string_split_regex(trim(text), '\\s+')"
    grams = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 1, 1)),"
        f" i -> array_to_string(({toks})[i:i+1], ' '))"
    )
    bucket = (
        "CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % " + str(nb)
    )
    bucket_x = bucket.replace("md5(g)", "md5(x)")
    return f"""
        WITH flat AS (
          SELECT lang = '{DSIR_TARGET_LANG}' AS is_t, {bucket} AS b
          FROM documents, unnest({grams}) AS u(g)
          WHERE text IS NOT NULL
        ),
        counts AS (
          SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc,
                    sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS rc
          FROM flat GROUP BY b
        ),
        buckets AS (
          SELECT s.b, 1 + coalesce(c.tc, 0) AS tc, 1 + coalesce(c.rc, 0) AS rc
          FROM generate_series(0, {nb - 1}) AS s(b)
          LEFT JOIN counts c ON s.b = c.b
        ),
        lam AS (
          SELECT list(ln(tc) - ln(rc) - ln(t.tt) + ln(t.tr) ORDER BY b) AS arr
          FROM buckets, (SELECT sum(tc) AS tt, sum(rc) AS tr FROM buckets) t
          GROUP BY t.tt, t.tr
        ),
        scored AS (
          SELECT d.doc_id,
                 CASE WHEN d.text IS NULL THEN NULL ELSE
                   round(list_sum(list_transform({grams},
                     x -> l.arr[({bucket_x}) + 1])), 6) + 0.0
                 END AS dsir_logratio
          FROM documents d, lam l
        )
        SELECT doc_id, dsir_logratio, dsir_logratio > 0.0 AS keep
        FROM scored
    """


# --------------------------------------------------------------------------
# BM25 top-k retrieval
# --------------------------------------------------------------------------

def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for the fixed query ``{hash join vector
    stream}``: one corpus-stats row (N, Σdl, per-term df), broadcast
    onto a zero-shuffle scoring projection, TakeOrderedAndProject
    top-k. Ordering is on the ROUNDED score (then doc_id) so both
    engines rank identically at the limit boundary."""
    d = load_spread(spark, sf_dir, "documents")
    s = rt.bm25_scores(
        d, "doc_id", "text", list(BM25_TERMS), k1=BM25_K1, b=BM25_B
    )
    return (
        s.where(col("bm25") > 0)
        .orderBy(col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


def _bm25_oracle(limit: int = BM25_TOPK) -> str:
    """Parameterized so ``_hybrid_rrf_oracle`` can reuse the identical
    CTE chain at its shortlist size instead of text-surgery on the
    rendered SQL (which silently no-ops if the LIMIT formatting ever
    changes)."""
    toks = "string_split_regex(trim(text), '\\s+')"
    dfs = ",\n                 ".join(
        f"CAST(sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END)"
        f" AS DOUBLE) AS df{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    tfs = ",\n                 ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    k1, b, k1p1 = repr(BM25_K1), repr(BM25_B), repr(BM25_K1 + 1.0)
    terms = " + ".join(
        f"ln((s.nd - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1.0)"
        f" * (t.tf{i} * {k1p1})"
        f" / (t.tf{i} + {k1} * (1.0 - {b} + {b} * t.dld / (s.tdl / s.nd)))"
        for i in range(len(BM25_TERMS))
    )
    return f"""
        WITH d AS (
          SELECT doc_id, {toks} AS toks, len({toks}) AS dl FROM documents
          WHERE text IS NOT NULL
        ),
        s AS (
          SELECT CAST(count(*) AS DOUBLE) AS nd,
                 CAST(sum(dl) AS DOUBLE) AS tdl,
                 {dfs}
          FROM d
        ),
        t AS (
          SELECT doc_id, CAST(dl AS DOUBLE) AS dld,
                 {tfs}
          FROM d
        ),
        sc AS (
          SELECT t.doc_id, round(0.0 + {terms}, 6) + 0.0 AS bm25
          FROM t, s
        )
        SELECT doc_id, bm25 FROM sc
        WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT {limit}
    """


# --------------------------------------------------------------------------
# MinHash estimate-vs-exact instrumentation
# --------------------------------------------------------------------------

def q_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality instrumentation for the MinHash path: every LSH
    candidate pair with its signature-estimated Jaccard (matching
    positions / k), the exact shingle Jaccard, and the absolute error.
    A signature/banding regression (bad seed, broken band slicing)
    shifts est away from exact and flips this row — the dedup analog of
    ``ivf_recall_at_k``. All-rational arithmetic, so the oracle matches
    bit-for-bit."""
    d = _with_near_dups(load(spark, sf_dir, "documents"), limit=100)
    shing = d.select(
        "doc_id", dd.word_shingles(col("text"), SHINGLE_N).alias("sh")
    ).localCheckpoint()
    sig = shing.select(
        "doc_id",
        "sh",
        dd.minhash_signature("sh", MINHASH_K).alias("sig"),
    ).localCheckpoint()
    banded = sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(BANDS - 1))).alias("_b"),
        "sig",
    ).select(
        "doc_id",
        F.concat(
            col("_b").cast("string"),
            F.lit(":"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.element_at(col("sig"), col("_b") * ROWS + r + 1)
                        for r in range(ROWS)
                    ],
                )
            ),
        ).alias("band_key"),
    )
    pairs = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (col("l.band_key") == col("r.band_key"))
            & (col("l.doc_id") < col("r.doc_id")),
        )
        .select(
            col("l.doc_id").alias("doc_a"), col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )
    a = sig.select(
        col("doc_id").alias("doc_a"),
        col("sh").alias("_sh_a"),
        col("sig").alias("_sig_a"),
    )
    b = sig.select(
        col("doc_id").alias("doc_b"),
        col("sh").alias("_sh_b"),
        col("sig").alias("_sig_b"),
    )
    est = F.round(
        F.aggregate(
            F.zip_with(
                col("_sig_a"),
                col("_sig_b"),
                lambda x, y: (x == y).cast("int"),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(MINHASH_K)),
        6,
    )
    exact = dd.jaccard(col("_sh_a"), col("_sh_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            exact.alias("jaccard_sim"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


def _minhash_est_oracle() -> str:
    jac = (
        "round(len(list_intersect(a.sh, b.sh)) * 1.0"
        " / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 4)"
    )
    est = (
        f"round(len(list_filter(generate_series(1, {MINHASH_K}),"
        f" i -> a.sig[i] = b.sig[i])) / {repr(float(MINHASH_K))}, 6)"
    )
    return f"""
        WITH unioned AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 100
          UNION ALL
          SELECT doc_id + {DUP_OFFSET},
                 substring(text, instr(text, ' ') + 1)
          FROM documents WHERE doc_id < 100
        ),
        sh AS (SELECT doc_id, {_dk_shingles()} AS sh FROM unioned),
        sig AS (SELECT doc_id, sh, {_dk_minhash_sig()} AS sig FROM sh),
        banded AS (
          SELECT doc_id, unnest({_dk_band_keys()}) AS band_key FROM sig
        ),
        pairs AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM banded l JOIN banded r
            ON l.band_key = r.band_key AND l.doc_id < r.doc_id
        ),
        j AS (
          SELECT p.doc_a, p.doc_b, {est} AS est_jaccard, {jac} AS jaccard_sim
          FROM pairs p
          JOIN sig a ON p.doc_a = a.doc_id
          JOIN sig b ON p.doc_b = b.doc_id
        )
        SELECT doc_a, doc_b, est_jaccard, jaccard_sim,
               round(abs(est_jaccard - jaccard_sim), 6) AS abs_err
        FROM j
    """


# --------------------------------------------------------------------------
# Exact percentiles
# --------------------------------------------------------------------------

def q_percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (Spark ``percentile`` ≡
    SQL ``percentile_cont``, Hyndman-Fan type 7) of extended price per
    return flag — the order-statistic battery. Deterministic regardless
    of aggregation order (an order statistic, not a float sum)."""
    li = load(spark, sf_dir, "lineitem")
    aggs = [
        (
            F.round(
                F.percentile(col("l_extendedprice"), F.lit(p)), 6
            )
            + F.lit(0.0)
        ).alias(f"price_p{int(p * 100)}")
        for p in _PCTS
    ]
    return (
        li.groupBy("l_returnflag")
        .agg(*aggs, F.count(F.lit(1)).alias("n_rows"))
        .orderBy("l_returnflag")
    )


def _percentile_oracle() -> str:
    cols = ",\n               ".join(
        f"round(quantile_cont(l_extendedprice, {repr(p)}), 6) + 0.0"
        f" AS price_p{int(p * 100)}"
        for p in _PCTS
    )
    return f"""
        SELECT l_returnflag,
               {cols},
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """


# --------------------------------------------------------------------------
# SCD-2 validity intervals
# --------------------------------------------------------------------------

def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from the event stream:
    collapse each user's consecutive same-``event_type`` runs into
    validity intervals ``[valid_from, valid_to)`` with version numbers
    and a current flag — the change-data-capture shape a MERGE-fed
    dimension table holds. Two windows + one groupBy, all keyed on
    ``user_id`` (one shuffle; the windows reuse the partitioning)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(
        prev.isNull() | (prev != col("event_type")), 1
    ).otherwise(0)
    runs = e.select(
        "user_id",
        "ts",
        "event_type",
        F.sum(chg).over(w).alias("_grp"),
    )
    g = runs.groupBy("user_id", "_grp").agg(
        F.min("ts").alias("valid_from"),
        F.min("event_type").alias("event_type"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "_grp")
    nxt = F.lead("valid_from").over(w2)
    return g.select(
        "user_id",
        "event_type",
        "valid_from",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        F.row_number().over(w2).cast("long").alias("version"),
        "n_events",
    )


def _scd2_oracle() -> str:
    return """
        WITH r AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(event_type) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        IS NULL
                      OR lag(event_type) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        <> event_type
                      THEN 1 ELSE 0 END AS chg
          FROM events
        ),
        runs AS (
          SELECT user_id, ts, event_type,
                 sum(chg) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS grp
          FROM r
        ),
        g AS (
          SELECT user_id, grp, min(ts) AS valid_from,
                 min(event_type) AS event_type, count(*) AS n_events
          FROM runs GROUP BY user_id, grp
        )
        SELECT user_id, event_type, valid_from,
               lead(valid_from) OVER w AS valid_to,
               lead(valid_from) OVER w IS NULL AS is_current,
               row_number() OVER w AS version,
               n_events
        FROM g
        WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, grp)
    """


# --------------------------------------------------------------------------
# CCNet-style LM perplexity filter
# --------------------------------------------------------------------------

# median-ish of the fixture's avg_nll distribution (≈3.53 at sf0.01,
# ≈3.44 at sf0.1) so the keep flag actually discriminates; a real CCNet
# deployment sets this from the reference corpus's perplexity terciles
LM_NLL_THRESHOLD = 3.5


def q_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet LM quality filtering (Wenzek et al. 2020): train an
    add-one bigram LM on the reference slice (doc_id % 10 == 0 — the
    deterministic stand-in for the trusted corpus), score every
    document's mean negative log-likelihood, and keep docs below the
    threshold. Training and scoring are keyed joins/aggs end-to-end —
    the LM is a TABLE, never a driver object (see ``operators/lm``)."""
    from interop_spark.operators import lm

    d = load(spark, sf_dir, "documents")
    ref = d.where(col("doc_id") % 10 == 0)
    uni, big, vocab = lm.bigram_lm_tables(ref, "text")
    s = lm.score_nll(d, "doc_id", "text", uni, big, vocab)
    return s.select(
        "doc_id",
        "avg_nll",
        "n_bigrams",
        (col("avg_nll") < F.lit(LM_NLL_THRESHOLD)).alias("keep"),
    )


def _lm_perplexity_oracle() -> str:
    toks = "string_split_regex(trim(text), '\\s+')"
    return f"""
        WITH tk AS (
          SELECT doc_id, {toks} AS t FROM documents
        ),
        ref AS (SELECT t FROM tk WHERE doc_id % 10 = 0),
        uni AS (
          SELECT w AS p, count(*) AS cu
          FROM ref, unnest(t) AS u(w) GROUP BY 1
        ),
        big AS (
          SELECT t[i] AS p, t[i + 1] AS w, count(*) AS cb
          FROM ref, unnest(generate_series(1, len(t) - 1)) AS g(i)
          GROUP BY 1, 2
        ),
        vs AS (SELECT count(*) + 1 AS v FROM uni),
        pairs AS (
          SELECT doc_id, t[i] AS p, t[i + 1] AS w
          FROM tk, unnest(generate_series(1, len(t) - 1)) AS g(i)
        ),
        j AS (
          SELECT doc_id,
                 ln(CAST(coalesce(b.cb, 0) + 1 AS DOUBLE)
                    / CAST(coalesce(u.cu, 0) + vs.v AS DOUBLE)) AS lnp
          FROM pairs pa
          LEFT JOIN big b ON pa.p = b.p AND pa.w = b.w
          LEFT JOIN uni u ON pa.p = u.p
          CROSS JOIN vs
        ),
        s AS (
          SELECT doc_id, round(-avg(lnp), 6) + 0.0 AS avg_nll,
                 count(*) AS n_bigrams
          FROM j GROUP BY 1
        )
        SELECT d.doc_id, s.avg_nll, coalesce(s.n_bigrams, 0) AS n_bigrams,
               s.avg_nll < {repr(LM_NLL_THRESHOLD)} AS keep
        FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """


# --------------------------------------------------------------------------
# UniMax-style language-balanced sampling
# --------------------------------------------------------------------------

UNIMAX_BUDGET = 150
_UNIMAX_DENOM = 1_000_000


def q_unimax_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced corpus sampling in the UniMax spirit (Chung
    et al. 2023): each language gets a document budget; over-budget
    languages are downsampled at rate budget/count via a deterministic
    hash-Bernoulli — ``bucket(doc_id) · count < budget · 10⁶`` in EXACT
    integer arithmetic. No per-language sort/window (which would put a
    whole language's corpus through one skewed partition at 100 TB):
    one tiny per-language count aggregate broadcasts back onto a
    zero-shuffle keep projection."""
    from interop_spark.operators.text import token_bucket

    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("lang_docs"))
    bucket = token_bucket(col("doc_id").cast("string"), _UNIMAX_DENOM)
    return (
        d.join(F.broadcast(counts), "lang")
        .select(
            "doc_id",
            "lang",
            "lang_docs",
            (
                bucket * col("lang_docs")
                < F.lit(UNIMAX_BUDGET) * F.lit(_UNIMAX_DENOM)
            ).alias("keep"),
        )
    )


def _unimax_oracle() -> str:
    bucket = (
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
        f" AS BIGINT) % {_UNIMAX_DENOM}"
    )
    return f"""
        WITH c AS (SELECT lang, count(*) AS lang_docs FROM documents
                   GROUP BY lang)
        SELECT d.doc_id, d.lang, c.lang_docs,
               ({bucket}) * c.lang_docs
                 < {UNIMAX_BUDGET} * {_UNIMAX_DENOM} AS keep
        FROM documents d JOIN c ON d.lang = c.lang
    """


# --------------------------------------------------------------------------
# BPE merge-candidate counting (vocab induction, step 1 of BPE training)
# --------------------------------------------------------------------------

BPE_TOP_MERGES = 20


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE vocabulary TRAINING (Sennrich et al.
    2016 §3.2): count adjacent symbol pairs across the corpus weighted
    by word frequency and emit the top merge candidates — the
    complement of ``bpe_encode``'s fixed-vocab ENCODING. Shape: the
    word-frequency table (explode + count — the shuffle any tokenizer
    trainer pays once) then per-DISTINCT-word pair explode, so pair
    counting scales with vocabulary size, not corpus size."""
    d = load(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(tx_tokens(col("text"))).alias("w"))
        .where(col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = wf.select(
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length("w") - 1, F.lit(1))
                ),
                lambda i: col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    ).where(F.length("pair") == 2)
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("pair_count"))
        .orderBy(col("pair_count").desc(), "pair")
        .limit(BPE_TOP_MERGES)
    )


def _bpe_merge_oracle() -> str:
    toks = "string_split_regex(trim(text), '\\s+')"
    return f"""
        WITH wf AS (
          SELECT w, count(*) AS c
          FROM (SELECT unnest({toks}) AS w FROM documents)
          WHERE w <> '' GROUP BY w
        ),
        p AS (
          SELECT substr(w, i, 2) AS pair, c
          FROM wf, unnest(generate_series(1, greatest(len(w) - 1, 1)))
            AS g(i)
        )
        SELECT pair, CAST(sum(c) AS BIGINT) AS pair_count
        FROM p WHERE length(pair) = 2
        GROUP BY pair ORDER BY pair_count DESC, pair
        LIMIT {BPE_TOP_MERGES}
    """


# --------------------------------------------------------------------------
# Inverted-index BM25 (the 100 TB retrieval shape, runnable)
# --------------------------------------------------------------------------

def q_bm25_inverted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path ``bm25_topk``'s docstring promises, as runnable
    code: materialize the inverted index (explode → (term, doc, tf),
    the posting table a real deployment buckets by term), equi-join the
    query terms against it, and aggregate per-doc scores. Only
    documents containing ≥1 query term ever leave the posting join —
    the corpus is never re-scanned per query. Must rank identically to
    the scan-scoring twin (pinned in tests). NULL-text rows are
    excluded before the stats/posting build (same guard + rationale as
    ``retrieval.bm25_scores``)."""
    d = load(spark, sf_dir, "documents").where(col("text").isNotNull())
    toks = tx_tokens(col("text"))
    base = d.select(
        "doc_id", toks.alias("_toks"), F.size(toks).alias("_dl")
    )
    posting = (
        base.select("doc_id", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # JVM-side literal explode (pair-panel pattern): a Python-backed
    # createDataFrame source respawns a Python worker chain per
    # execution (r19 optimization round)
    qterms = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in BM25_TERMS])).alias("term")
    )
    hits = posting.join(F.broadcast(qterms), "term")
    dfc = hits.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("dft")
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("_nd"),
        F.sum("_dl").cast("double").alias("_tdl"),
    )
    k1, b = BM25_K1, BM25_B
    tfd = col("tf").cast("double")
    dld = col("_dl").cast("double")
    idf = F.log(
        (col("_nd") - col("dft") + F.lit(0.5))
        / (col("dft") + F.lit(0.5))
        + F.lit(1.0)
    )
    term_score = idf * (tfd * F.lit(k1 + 1.0)) / (
        tfd
        + F.lit(k1)
        * (
            F.lit(1.0)
            - F.lit(b)
            + F.lit(b) * dld / (col("_tdl") / col("_nd"))
        )
    )
    sc = (
        hits.join(F.broadcast(dfc), "term")
        .join(base.select("doc_id", "_dl"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            (F.round(F.sum(term_score), 6) + F.lit(0.0)).alias("bm25")
        )
    )
    return (
        sc.where(col("bm25") > 0)
        .orderBy(col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


def _bm25_inverted_oracle() -> str:
    toks = "string_split_regex(trim(text), '\\s+')"
    vals = ", ".join(f"('{t}')" for t in BM25_TERMS)
    k1, b, k1p1 = repr(BM25_K1), repr(BM25_B), repr(BM25_K1 + 1.0)
    return f"""
        WITH d AS (
          SELECT doc_id, {toks} AS toks, len({toks}) AS dl FROM documents
          WHERE text IS NOT NULL
        ),
        post AS (
          SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM d)
          GROUP BY doc_id, term
        ),
        qt AS (SELECT * FROM (VALUES {vals}) AS t(term)),
        hits AS (SELECT p.doc_id, p.term, p.tf FROM post p
                 JOIN qt USING (term)),
        dfc AS (SELECT term, CAST(count(*) AS DOUBLE) AS dft
                FROM hits GROUP BY term),
        s AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
                     CAST(sum(dl) AS DOUBLE) AS tdl FROM d),
        sc AS (
          SELECT h.doc_id,
                 round(sum(
                   ln((s.nd - dfc.dft + 0.5) / (dfc.dft + 0.5) + 1.0)
                   * (CAST(h.tf AS DOUBLE) * {k1p1})
                   / (CAST(h.tf AS DOUBLE) + {k1} * (1.0 - {b}
                      + {b} * CAST(d2.dl AS DOUBLE) / (s.tdl / s.nd)))
                 ), 6) + 0.0 AS bm25
          FROM hits h
          JOIN dfc USING (term)
          JOIN (SELECT doc_id, dl FROM d) d2 USING (doc_id)
          CROSS JOIN s
          GROUP BY h.doc_id
        )
        SELECT doc_id, bm25 FROM sc
        WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOPK}
    """


# --------------------------------------------------------------------------
# Matryoshka truncated-embedding recall
# --------------------------------------------------------------------------

MRL_DIMS = (8, 16, 32)
MRL_K = 10


def q_mrl_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation retrieval instrumentation (Kusupati
    et al., "Matryoshka Representation Learning", 2022): recall@k of
    cosine ranking over the embedding's FIRST-d prefix (d ∈ 8/16/32)
    against the full-dimension ground truth — the quality curve behind
    the truncate-for-cheap-first-pass retrieval pattern. Same
    deterministic round-9 ranking + id tie-break as
    ``ivf_recall_at_k``, so the whole curve is one value-hashed row."""
    from interop_spark.operators import similarity as sim

    e = load(spark, sf_dir, "embeddings")
    q = e.where(col("vec_id") == 0).select(
        col("embedding").alias("qvec")
    )

    def topk_ids(dims: int | None):
        emb = sim.as_double(col("embedding"))
        qv = sim.as_double(col("qvec"))
        if dims is not None:
            emb = F.slice(emb, 1, dims)
            qv = F.slice(qv, 1, dims)
        return (
            e.crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                F.round(sim.cosine_sim(emb, qv), 9).alias("_c9"),
            )
            .orderBy(col("_c9").desc(), col("vec_id").asc())
            .limit(MRL_K)
            .select("vec_id")
        )

    exact = topk_ids(None).localCheckpoint()
    parts = []
    for dp in MRL_DIMS:
        hits = (
            topk_ids(dp)
            .join(exact, "vec_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        parts.append(
            hits.select(
                F.lit(dp).alias("dims"),
                F.lit(MRL_K).alias("k"),
                col("n_hit"),
                F.round(col("n_hit") / F.lit(float(MRL_K)), 6).alias(
                    "recall"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _mrl_recall_oracle() -> str:
    from interop_spark.queries.pipeline import _dk_dot, _dk_norm

    def scored(dims: int) -> str:
        return (
            f"round({_dk_dot('e.embedding', 'q.qvec', dims)}"
            f" / greatest({_dk_norm('e.embedding', dims)}"
            f" * {_dk_norm('q.qvec', dims)}, 1e-12), 9)"
        )

    tops = "\n".join(
        f"""
        top{dp} AS (
          SELECT vec_id FROM (
            SELECT e.vec_id, {scored(dp)} AS c
            FROM embeddings e CROSS JOIN q
          ) ORDER BY c DESC, vec_id ASC LIMIT {MRL_K}
        ),"""
        for dp in MRL_DIMS
    )
    unions = "\n        UNION ALL\n".join(
        f"""
        SELECT CAST({dp} AS INTEGER) AS dims,
               CAST({MRL_K} AS INTEGER) AS k,
               CAST(count(*) AS BIGINT) AS n_hit,
               round(CAST(count(*) AS DOUBLE) / {MRL_K}, 6) AS recall
        FROM top{dp} JOIN exact USING (vec_id)"""
        for dp in MRL_DIMS
    )
    return f"""
        WITH q AS (SELECT embedding AS qvec FROM embeddings
                   WHERE vec_id = 0),
        exact AS (
          SELECT vec_id FROM (
            SELECT e.vec_id, {scored(64)} AS c
            FROM embeddings e CROSS JOIN q
          ) ORDER BY c DESC, vec_id ASC LIMIT {MRL_K}
        ),
        {tops}
        dummy AS (SELECT 1)
        {unions}
    """


# --------------------------------------------------------------------------
# Classifier TRAINING (batch gradient descent, unrolled)
# --------------------------------------------------------------------------

CT_BUCKETS = 64
CT_LR = 0.5


def q_classifier_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the quality classifier whose inference
    ``quality_classifier_filter`` runs: two unrolled batch
    gradient-descent steps of logistic regression on hashed-bag-of-words
    features (x = bucket count / doc length, y = is-English), entirely
    as a lazy DataFrame DAG — no driver loop, no collect. Each step is
    sum((σ(w·x) − y)·x) per bucket: a feature-keyed aggregate; w flows
    between steps as a 64-row broadcast join, the distributed form of
    the parameter server for models this shape. Step 1's σ(0)=0.5 is
    exact, so the unrolled oracle replays both steps bit-compatibly
    (same argument as ``kmeans_fit``'s unrolled Lloyd oracle)."""
    d = (
        load(spark, sf_dir, "documents")
        .where(col("text").isNotNull())
        .select(
            "doc_id",
            F.when(col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            tx_tokens(col("text")).alias("_t"),
        )
    )
    base = d.select("doc_id", "y", F.size("_t").alias("nt"), "_t")
    from interop_spark.operators.text import token_bucket

    xdb = (
        base.select(
            "doc_id", "nt", F.explode("_t").alias("w")
        )
        .select(
            "doc_id", "nt", token_bucket(col("w"), CT_BUCKETS).alias("b")
        )
        .groupBy("doc_id", "b")
        .agg(
            (
                F.count(F.lit(1)).cast("double")
                / F.min("nt").cast("double")
            ).alias("x")
        )
    )
    nd = base.agg(F.count(F.lit(1)).cast("double").alias("n"))
    lr = F.lit(CT_LR)
    # step 1: sigma(0) = 0.5 exactly
    g1 = (
        xdb.join(base.select("doc_id", "y"), "doc_id")
        .groupBy("b")
        .agg(F.sum((F.lit(0.5) - col("y")) * col("x")).alias("g"))
    )
    w1 = (
        spark.range(CT_BUCKETS)
        .select(col("id").alias("b"))
        .join(g1, "b", "left")
        .crossJoin(F.broadcast(nd))
        .select(
            "b",
            (
                F.lit(0.0)
                - lr * F.coalesce(col("g"), F.lit(0.0)) / col("n")
            ).alias("w"),
        )
    )
    # step 2
    z2 = (
        xdb.join(F.broadcast(w1), "b")
        .groupBy("doc_id")
        .agg(F.sum(col("x") * col("w")).alias("z"))
    )
    err2 = z2.join(base.select("doc_id", "y"), "doc_id").select(
        "doc_id",
        (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-col("z"))) - col("y")
        ).alias("e"),
    )
    g2 = (
        xdb.join(err2, "doc_id")
        .groupBy("b")
        .agg(F.sum(col("e") * col("x")).alias("g"))
    )
    return (
        w1.join(g2, "b", "left")
        .crossJoin(F.broadcast(nd))
        .select(
            col("b").alias("bucket"),
            (
                F.round(
                    col("w")
                    - lr * F.coalesce(col("g"), F.lit(0.0)) / col("n"),
                    6,
                )
                + F.lit(0.0)
            ).alias("weight"),
        )
    )


def _classifier_train_oracle() -> str:
    toks = "string_split_regex(trim(text), '\\s+')"
    bucket = (
        "CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT)"
        f" % {CT_BUCKETS}"
    )
    lr = repr(CT_LR)
    return f"""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                 {toks} AS t
          FROM documents WHERE text IS NOT NULL
        ),
        base AS (SELECT doc_id, y, len(t) AS nt, t FROM d),
        xdb AS (
          SELECT doc_id, b,
                 CAST(count(*) AS DOUBLE) / CAST(min(nt) AS DOUBLE) AS x
          FROM (
            SELECT doc_id, nt, {bucket} AS b
            FROM (SELECT doc_id, nt, unnest(t) AS w FROM base)
          )
          GROUP BY doc_id, b
        ),
        nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM base),
        g1 AS (
          SELECT x.b, sum((0.5 - base.y) * x.x) AS g
          FROM xdb x JOIN base USING (doc_id) GROUP BY x.b
        ),
        w1 AS (
          SELECT s.b, 0.0 - {lr} * coalesce(g1.g, 0.0) / nd.n AS w
          FROM generate_series(0, {CT_BUCKETS - 1}) AS s(b)
          LEFT JOIN g1 ON s.b = g1.b CROSS JOIN nd
        ),
        z2 AS (
          SELECT x.doc_id, sum(x.x * w1.w) AS z
          FROM xdb x JOIN w1 USING (b) GROUP BY x.doc_id
        ),
        e2 AS (
          SELECT z2.doc_id, 1.0 / (1.0 + exp(-z2.z)) - base.y AS e
          FROM z2 JOIN base USING (doc_id)
        ),
        g2 AS (
          SELECT x.b, sum(e2.e * x.x) AS g
          FROM xdb x JOIN e2 USING (doc_id) GROUP BY x.b
        )
        SELECT w1.b AS bucket,
               round(w1.w - {lr} * coalesce(g2.g, 0.0) / nd.n, 6) + 0.0
                 AS weight
        FROM w1 LEFT JOIN g2 ON w1.b = g2.b CROSS JOIN nd
    """


# --------------------------------------------------------------------------
# Duplicate-span REMOVAL (completes the Lee et al. 2022 loop)
# --------------------------------------------------------------------------

def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excise cross-document duplicated substring runs from the corpus:
    ``substring_dup_runs``'s spans, merged per higher-id doc
    (first-occurrence-wins), removed by a row-local gap-stitching fold.
    Output pins the merged span count, removed char count, and the md5
    of every rebuilt document."""
    from interop_spark.operators.dedup import dup_span_removal
    from interop_spark.queries.pipeline_ext import (
        SUBDUP_CAP,
        SUBDUP_S,
        SUBDUP_W,
    )

    d = load(spark, sf_dir, "documents")
    return dup_span_removal(
        d, w=SUBDUP_W, stride=SUBDUP_S, max_hash_docs=SUBDUP_CAP
    )


def _dup_span_removal_oracle() -> str:
    from interop_spark.queries.pipeline_ext import _substring_dup_oracle

    return f"""
        WITH runs AS ({_substring_dup_oracle()}),
        iv AS (
          SELECT DISTINCT doc_b AS doc_id, start_b AS s,
                 start_b + match_len AS e
          FROM runs
        ),
        pm AS (
          SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS pmax
          FROM iv
        ),
        grps AS (
          SELECT *, sum(CASE WHEN pmax IS NULL OR s > pmax
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS UNBOUNDED PRECEDING) AS grp
          FROM pm
        ),
        merged AS (
          SELECT doc_id, grp, min(s) AS s, max(e) AS e
          FROM grps GROUP BY doc_id, grp
        ),
        gaps AS (
          SELECT doc_id, s, e,
                 lag(e) OVER (PARTITION BY doc_id ORDER BY s) AS pe
          FROM merged
        ),
        built AS (
          SELECT g.doc_id,
                 CAST(count(*) AS BIGINT) AS n_spans,
                 coalesce(string_agg(
                   substr(d.text, coalesce(g.pe, 1),
                          greatest(g.s - coalesce(g.pe, 1), 0)),
                   '' ORDER BY g.s), '')
                 || substr(d.text, max(g.e), length(d.text)) AS clean
          FROM gaps g JOIN documents d USING (doc_id)
          GROUP BY g.doc_id, d.text
        )
        SELECT d.doc_id,
               coalesce(b.n_spans, 0) AS n_spans,
               CAST(length(d.text) - length(coalesce(b.clean, d.text))
                    AS BIGINT) AS n_removed_chars,
               md5(coalesce(b.clean, d.text)) AS clean_md5
        FROM documents d LEFT JOIN built b USING (doc_id)
    """


# --------------------------------------------------------------------------
# Real video container decode (MP4 ftyp/moov/mvhd box walk)
# --------------------------------------------------------------------------

# rate/volume/reserved/matrix/predefined/next-track tail of an mvhd box
# (80 bytes, constant)
_MVHD_TAIL_HEX = (
    "00010000" + "0100" + "0000" + "00000000" * 2
    + "00010000" + "00000000" * 3 + "00010000" + "00000000" * 3
    + "40000000" + "00000000" * 6 + "00000002"
)


def q_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 metadata decode, driver-verified (the video leg of the
    image_dims/audio_stats triangle): build actual ISO-BMFF bytes
    JVM-side — ftyp + moov/mvhd with version 0 (u32 times) on even ids
    and version 1 (u64 times) on odd — parse them back with the stdlib
    box walker (``multimodal.video_meta``, Arrow mapInPandas), and let
    the oracle recompute brand/timescale/duration closed-form from
    doc_id. A bug in the hex construction, the box walk, either mvhd
    branch, or the integer duration math breaks the match."""
    from interop_spark.operators import multimodal as mm

    d = load(spark, sf_dir, "documents").where(col("doc_id") < 240)
    ts = F.lit(600)
    secs = (col("doc_id") % 3600 + 1).cast("int")
    dur = secs * 600
    ts32 = F.lpad(F.hex(ts), 8, "0")
    dur32 = F.lpad(F.hex(dur), 8, "0")
    dur64 = F.lpad(F.hex(dur), 16, "0")
    ftyp = F.lit("00000010" + "66747970" + "69736F6D" + "00000200")
    mvhd0 = F.concat(
        F.lit("0000006C" + "6D766864" + "00000000" + "00000000" * 2),
        ts32, dur32, F.lit(_MVHD_TAIL_HEX),
    )
    moov0 = F.concat(F.lit("00000074" + "6D6F6F76"), mvhd0)
    mvhd1 = F.concat(
        F.lit("00000078" + "6D766864" + "01000000" + "00000000" * 4),
        ts32, dur64, F.lit(_MVHD_TAIL_HEX),
    )
    moov1 = F.concat(F.lit("00000080" + "6D6F6F76"), mvhd1)
    blob = F.concat(
        ftyp, F.when(col("doc_id") % 2 == 0, moov0).otherwise(moov1)
    )
    media = d.select(
        col("doc_id").alias("media_id"),
        F.to_binary(blob, F.lit("hex")).alias("data"),
    )
    return mm.video_meta(media)


def _video_meta_oracle() -> str:
    return """
        SELECT doc_id AS media_id,
               'isom' AS brand,
               CAST(doc_id % 2 AS BIGINT) AS mvhd_version,
               CAST(600 AS BIGINT) AS timescale,
               CAST((doc_id % 3600 + 1) * 600 AS BIGINT) AS duration,
               CAST(doc_id % 3600 + 1 AS BIGINT) AS duration_s
        FROM documents WHERE doc_id < 240
    """


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion (BM25 ∪ vector cosine)
# --------------------------------------------------------------------------

RRF_C = 60
RRF_SHORTLIST = 50
RRF_TOPK = 10


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search via Reciprocal Rank Fusion (Cormack, Clarke &
    Buettcher, SIGIR 2009): fuse the lexical BM25 ranking (query
    ``{hash join vector stream}``) with the vector cosine ranking
    (query embedding vec_id 0, ids shared with doc_id) as
    ``Σ 1/(C + rank)`` over each source's top-{RRF_SHORTLIST}
    shortlist. Ranks come from per-source TakeOrderedAndProject
    shortlists and the rank windows run over those ≤{RRF_SHORTLIST}-row
    sets — never a global corpus sort — which is exactly how a 100 TB
    hybrid engine composes its per-index candidates. All-rational
    arithmetic (integer ranks, two exact divisions), so the fused
    scores are bit-identical across engines."""
    from interop_spark.operators import similarity as sim

    d = load(spark, sf_dir, "documents")
    lex = (
        rt.bm25_scores(d, "doc_id", "text", list(BM25_TERMS),
                       k1=BM25_K1, b=BM25_B)
        .where(col("bm25") > 0)
        .orderBy(col("bm25").desc(), "doc_id")
        .limit(RRF_SHORTLIST)
    )
    wlex = Window.orderBy(col("bm25").desc(), "doc_id")
    lexr = lex.select(
        "doc_id", F.row_number().over(wlex).alias("r_lex")
    )
    e = load(spark, sf_dir, "embeddings")
    q = e.where(col("vec_id") == 0).select(
        col("embedding").alias("qvec")
    )
    vec = (
        e.crossJoin(F.broadcast(q))
        .select(
            col("vec_id").alias("doc_id"),
            F.round(
                sim.cosine_sim(
                    sim.as_double(col("embedding")),
                    sim.as_double(col("qvec")),
                ),
                9,
            ).alias("cos"),
        )
        .orderBy(col("cos").desc(), "doc_id")
        .limit(RRF_SHORTLIST)
    )
    wvec = Window.orderBy(col("cos").desc(), "doc_id")
    vecr = vec.select(
        "doc_id", F.row_number().over(wvec).alias("r_vec")
    )
    fused = lexr.join(vecr, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_vec",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_C) + col("r_lex")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_C) + col("r_vec")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    return (
        fused.orderBy(col("rrf").desc(), "doc_id")
        .limit(RRF_TOPK)
        .select("doc_id", "r_lex", "r_vec", "rrf")
    )


def _hybrid_rrf_oracle() -> str:
    from interop_spark.queries.pipeline import _dk_dot, _dk_norm

    cos = (
        f"round({_dk_dot('e.embedding', 'q.qvec')}"
        f" / greatest({_dk_norm('e.embedding')} * {_dk_norm('q.qvec')},"
        f" 1e-12), 9)"
    )
    # reuse the BM25 oracle's CTE chain at the shortlist size via its
    # limit parameter (not string surgery on the rendered SQL)
    bm25_shortlist = _bm25_oracle(limit=RRF_SHORTLIST)
    return f"""
        WITH lex AS ({bm25_shortlist}),
        lexr AS (
          SELECT doc_id, row_number()
                   OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
          FROM lex
        ),
        q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        vec AS (
          SELECT e.vec_id AS doc_id, {cos} AS cos
          FROM embeddings e CROSS JOIN q
          ORDER BY cos DESC, doc_id LIMIT {RRF_SHORTLIST}
        ),
        vecr AS (
          SELECT doc_id, row_number()
                   OVER (ORDER BY cos DESC, doc_id) AS r_vec
          FROM vec
        ),
        fused AS (
          SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
                 l.r_lex AS r_lex, v.r_vec AS r_vec,
                 coalesce(1.0 / ({RRF_C} + l.r_lex), 0.0)
                 + coalesce(1.0 / ({RRF_C} + v.r_vec), 0.0) AS rrf
          FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
        )
        SELECT doc_id, r_lex, r_vec, rrf FROM fused
        ORDER BY rrf DESC, doc_id LIMIT {RRF_TOPK}
    """


# --------------------------------------------------------------------------
# Binary sign-quantized embeddings + Hamming search
# --------------------------------------------------------------------------

BSQ_TOPK = 10


def q_bsq_hamming_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign quantization + Hamming search — the 1-bit/dim rung
    below SQ8/PQ (classic binary-embedding retrieval): each 64-dim
    vector compresses to TWO 32-bit sign words (two words, not one
    64-bit code, because bit 63 would overflow DuckDB's BIGINT shift —
    and a pair of u32s is also the portable layout), the query encodes
    once, and distance is ``bit_count(xor(lo)) + bit_count(xor(hi))``.
    64× compression; the scan reads 8 bytes/vector instead of 256.
    Top-k with the id tie-break, plus membership against the exact
    cosine top-k as inline recall instrumentation — all integer, so
    bit-exact."""
    from interop_spark.operators import similarity as sim

    e = load(spark, sf_dir, "embeddings")

    # codegen sign-word build (r19 optimization round): 32 literal
    # shift terms instead of an interpreted F.aggregate fold — the
    # zorder Morton-ladder fix applied to the BSQ word — parsed as ONE
    # F.expr string so the driver pays one parse, not ~400 py4j Column
    # constructions (the PQ-literal lesson). Bit-identical: the fold
    # added pow(2.0, i) cast bigint == 1 << i exactly for i <= 31, and
    # integer addition of distinct powers of two is order-exact; a NULL
    # element falls to ELSE 0 in both forms.
    def word(lo_bit):
        return F.expr(
            " + ".join(
                f"(CASE WHEN element_at(embedding, {i + 1 + lo_bit}) > 0"
                f" THEN {1 << i}L ELSE 0L END)"
                for i in range(32)
            )
        )

    codes = e.select(
        "vec_id",
        word(0).alias("lo"),
        word(32).alias("hi"),
    )
    q = codes.where(col("vec_id") == 0).select(
        col("lo").alias("qlo"), col("hi").alias("qhi")
    )
    ham = (
        F.bit_count(col("lo").bitwiseXOR(col("qlo")))
        + F.bit_count(col("hi").bitwiseXOR(col("qhi")))
    ).cast("long")
    ranked = (
        codes.crossJoin(F.broadcast(q))
        .select("vec_id", ham.alias("hamming"))
        .orderBy(col("hamming").asc(), "vec_id")
        .limit(BSQ_TOPK)
    )
    qv = e.where(col("vec_id") == 0).select(
        col("embedding").alias("qvec")
    )
    exact = (
        e.crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(
                sim.cosine_sim(
                    sim.as_double(col("embedding")),
                    sim.as_double(col("qvec")),
                ),
                9,
            ).alias("_c9"),
        )
        .orderBy(col("_c9").desc(), col("vec_id").asc())
        .limit(BSQ_TOPK)
        .select("vec_id", F.lit(True).alias("in_exact_topk"))
    )
    return ranked.join(exact, "vec_id", "left").select(
        "vec_id",
        "hamming",
        F.coalesce(col("in_exact_topk"), F.lit(False)).alias(
            "in_exact_topk"
        ),
    )


def _bsq_oracle() -> str:
    from interop_spark.queries.pipeline import _dk_dot, _dk_norm

    def word(lo_bit):
        return (
            "list_sum(list_transform(generate_series(0, 31), i -> CASE"
            f" WHEN embedding[i + 1 + {lo_bit}] > 0"
            " THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END))"
        )

    cos = (
        f"round({_dk_dot('e.embedding', 'q.qvec')}"
        f" / greatest({_dk_norm('e.embedding')} * {_dk_norm('q.qvec')},"
        f" 1e-12), 9)"
    )
    return f"""
        WITH codes AS (
          SELECT vec_id, {word(0)} AS lo, {word(32)} AS hi
          FROM embeddings
        ),
        qc AS (SELECT lo AS qlo, hi AS qhi FROM codes WHERE vec_id = 0),
        ranked AS (
          SELECT c.vec_id,
                 CAST(bit_count(xor(c.lo, qc.qlo))
                      + bit_count(xor(c.hi, qc.qhi)) AS BIGINT) AS hamming
          FROM codes c CROSS JOIN qc
          ORDER BY hamming ASC, c.vec_id ASC LIMIT {BSQ_TOPK}
        ),
        q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        exact AS (
          SELECT vec_id FROM (
            SELECT e.vec_id, {cos} AS c FROM embeddings e CROSS JOIN q
          ) ORDER BY c DESC, vec_id ASC LIMIT {BSQ_TOPK}
        )
        SELECT r.vec_id, r.hamming,
               (x.vec_id IS NOT NULL) AS in_exact_topk
        FROM ranked r LEFT JOIN exact x ON r.vec_id = x.vec_id
    """


# --------------------------------------------------------------------------
# Count-Min sketch with exact-count instrumentation
# --------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 16
CMS_PROBES = ("hash", "join", "vector", "stream", "zzz_absent_token")


def q_countmin_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over the token
    stream: CMS_DEPTH seeded-md5 hash rows × CMS_WIDTH buckets built in
    ONE explode + keyed count (the sketch is a depth×width-row table —
    the mergeable, fixed-size summary a streaming counter keeps), then
    point estimates ``min_j sketch[j][h_j(tok)]`` for a fixed probe
    list next to the exact counts. CMS guarantees estimate ≥ exact; the
    ``overestimate`` column exposes the collision error (width 16 is
    deliberately UNDER the fixture's vocabulary so collisions are real:
    some probes overestimate, min-over-rows rescues others), and an
    absent token probes the all-collision floor. Fully integer →
    bit-exact oracle."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(tx_tokens(col("text"))).alias("w")).where(
        col("w") != ""
    )

    rows = toks.select(
        "w",
        F.explode(
            F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
        ).alias("j"),
    )
    # the bucket depends on j, so derive it after the depth explode
    sketch = (
        rows.withColumn(
            "b",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            col("j").cast("string"), F.lit("|"), col("w")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % CMS_WIDTH,
        )
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in CMS_PROBES])).alias("token")
    ).select(
        "token",
        F.explode(
            F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
        ).alias("j"),
    ).withColumn(
        "b",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        col("j").cast("string"), F.lit("|"), col("token")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % CMS_WIDTH,
    )
    est = (
        probes.join(sketch, ["j", "b"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(col("cnt"), F.lit(0))).alias("cms_est"))
    )
    exact = (
        toks.groupBy(col("w").alias("token"))
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return (
        est.join(exact, "token", "left")
        .select(
            "token",
            "cms_est",
            F.coalesce(col("exact_cnt"), F.lit(0)).alias("exact_cnt"),
            (
                col("cms_est")
                - F.coalesce(col("exact_cnt"), F.lit(0))
            ).alias("overestimate"),
        )
        .orderBy("token")
    )


def _countmin_oracle() -> str:
    toks = "string_split_regex(trim(text), '\\s+')"
    vals = ", ".join(f"('{t}')" for t in CMS_PROBES)
    bucket = (
        "CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), '|',"
        " {tok})), 1, 8)) AS BIGINT) % " + str(CMS_WIDTH)
    )
    return f"""
        WITH t AS (
          SELECT w FROM (SELECT unnest({toks}) AS w FROM documents)
          WHERE w <> ''
        ),
        rows_ AS (
          SELECT w, j FROM t,
            unnest(generate_series(0, {CMS_DEPTH - 1})) AS g(j)
        ),
        sketch AS (
          SELECT j, {bucket.format(tok='w')} AS b, count(*) AS cnt
          FROM rows_ GROUP BY 1, 2
        ),
        probes AS (
          SELECT token, j,
                 {bucket.format(tok='token')} AS b
          FROM (SELECT * FROM (VALUES {vals}) AS v(token)),
            unnest(generate_series(0, {CMS_DEPTH - 1})) AS g(j)
        ),
        est AS (
          SELECT p.token,
                 CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS cms_est
          FROM probes p LEFT JOIN sketch s ON p.j = s.j AND p.b = s.b
          GROUP BY p.token
        ),
        exact AS (
          SELECT w AS token, CAST(count(*) AS BIGINT) AS exact_cnt
          FROM t GROUP BY w
        )
        SELECT e.token, e.cms_est,
               coalesce(x.exact_cnt, 0) AS exact_cnt,
               e.cms_est - coalesce(x.exact_cnt, 0) AS overestimate
        FROM est e LEFT JOIN exact x ON e.token = x.token
        ORDER BY e.token
    """


# --------------------------------------------------------------------------
# Time-series resample + forward fill
# --------------------------------------------------------------------------

def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled time-series resampling: per user, aggregate events to
    a daily series, generate the dense day grid between that user's
    first and last event (``sequence`` + explode — no driver-side
    calendar), left-join the observed days in, and forward-fill the
    value across gaps (``last IGNORE NULLS`` window). The
    regularize-then-fill shape every downstream feature pipeline needs
    from an irregular event stream. One user_id shuffle serves the
    span aggregate, the grid join, and the fill window; the fill
    carries the ROUNDED daily value, so cross-engine floats are
    settled before the window propagates them."""
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", col("ts"))
    daily = e.groupBy("user_id", day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.round(F.sum("value"), 6) + F.lit(0.0)).alias("day_value"),
    )
    span = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence(col("d0"), col("d1"), F.expr("interval 1 day"))
        ).alias("day"),
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        F.coalesce(col("n_events"), F.lit(0)).alias("n_events"),
        F.last("day_value", ignorenulls=True).over(w).alias("value_ffill"),
        # the left-join MISS marks a gap (a day with events whose values
        # all aggregate to NULL is observed, not a gap)
        col("n_events").isNull().alias("gap_filled"),
    )


def _resample_ffill_oracle() -> str:
    return """
        WITH daily AS (
          SELECT user_id, date_trunc('day', ts) AS day,
                 count(*) AS n_events,
                 round(sum(value), 6) + 0.0 AS day_value
          FROM events GROUP BY 1, 2
        ),
        span AS (
          SELECT user_id, date_trunc('day', min(ts)) AS d0,
                 date_trunc('day', max(ts)) AS d1
          FROM events GROUP BY 1
        ),
        grid AS (
          SELECT user_id, unnest(generate_series(d0, d1,
                   INTERVAL 1 DAY)) AS day
          FROM span
        ),
        j AS (
          SELECT g.user_id, g.day, d.n_events, d.day_value
          FROM grid g LEFT JOIN daily d
            ON g.user_id = d.user_id AND g.day = d.day
        )
        SELECT user_id, day,
               coalesce(n_events, 0) AS n_events,
               last_value(day_value IGNORE NULLS) OVER
                 (PARTITION BY user_id ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS value_ffill,
               n_events IS NULL AS gap_filled
        FROM j
    """


# --------------------------------------------------------------------------
# Sliding-window chunking (the RAG/embedding-pipeline chunker)
# --------------------------------------------------------------------------

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the retrieval/embedding
    pipeline's unit of work: {CHUNK_TOKENS}-token windows at stride
    {CHUNK_STRIDE} (8-token overlap so no boundary context is lost),
    emitted as (doc, chunk_idx, token count, chunk md5). Pure Column
    expressions — the chunk count is closed-form, the windows are
    ``slice`` over the token array, one explode; zero shuffles, so the
    chunker is scan-bandwidth bound at any corpus size. The md5 pins
    every chunk's exact text. NULL-text docs emit no chunks (explicit
    guard on BOTH sides: Spark's ``concat_ws`` would turn a NULL slice
    into ``md5('')`` while the oracle's ``array_to_string`` yields
    NULL — the known fixture-drift divergence class)."""
    d = load(spark, sf_dir, "documents").where(col("text").isNotNull())
    tk = tx_tokens(col("text"))
    n = F.size(tk)
    c, s = CHUNK_TOKENS, CHUNK_STRIDE
    n_chunks = F.when(
        n > c,
        (F.floor((n - c + (s - 1)) / F.lit(float(s))) + 1).cast("int"),
    ).otherwise(F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("idx"),
            F.least(F.lit(c), n - i * s).alias("n_tokens"),
            F.md5(
                F.concat_ws(" ", F.slice(tk, i * s + 1, c))
            ).alias("chunk_md5"),
        ),
    )
    return d.select(
        "doc_id", F.explode(chunks).alias("_c")
    ).select(
        "doc_id",
        col("_c.idx").alias("chunk_idx"),
        col("_c.n_tokens").alias("n_tokens"),
        col("_c.chunk_md5").alias("chunk_md5"),
    )


def _chunk_sliding_oracle() -> str:
    toks = "string_split_regex(trim(text), '\\s+')"
    c, s = CHUNK_TOKENS, CHUNK_STRIDE
    return f"""
        WITH t AS (
          SELECT doc_id, {toks} AS tk, len({toks}) AS n FROM documents
          WHERE text IS NOT NULL
        ),
        cdef AS (
          SELECT doc_id, tk, n,
                 CASE WHEN n > {c}
                      THEN CAST((n - {c} + {s - 1}) // {s} AS INTEGER) + 1
                      ELSE 1 END AS nc
          FROM t
        )
        SELECT doc_id, i AS chunk_idx,
               least({c}, n - i * {s}) AS n_tokens,
               md5(array_to_string(tk[i * {s} + 1 : i * {s} + {c}], ' '))
                 AS chunk_md5
        FROM cdef, unnest(generate_series(0, nc - 1)) AS g(i)
    """


def q_edit_distance_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETSim-style two-stage near-dup (round-10): MinHash-LSH candidate
    generation, then TRUE Levenshtein verification on the surviving
    pairs only — the edit-distance analog of exact-Jaccard
    verification, for pipelines whose dup definition is char-level
    (OCR noise, templated boilerplate with small substitutions).
    Levenshtein is O(len²) per pair, so it must never see all-pairs
    input; the band join bounds it. Planted first-word-dropped mutants
    give known small distances."""
    from interop_spark.operators.dedup import edit_verified_pairs

    d = _with_near_dups(load(spark, sf_dir, "documents"), limit=100)
    return edit_verified_pairs(
        d, "doc_id", "text", k=MINHASH_K, bands=BANDS, rows=ROWS,
        shingle_n=SHINGLE_N,
    )


def _edit_distance_oracle() -> str:
    return f"""
        WITH unioned AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 100
          UNION ALL
          SELECT doc_id + {DUP_OFFSET},
                 substring(text, instr(text, ' ') + 1)
          FROM documents WHERE doc_id < 100
        ),
        sh AS (SELECT doc_id, text, {_dk_shingles()} AS sh FROM unioned),
        sig AS (SELECT doc_id, text, {_dk_minhash_sig()} AS sig FROM sh),
        banded AS (
          SELECT doc_id, unnest({_dk_band_keys()}) AS band_key FROM sig
        ),
        pairs AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM banded l JOIN banded r
            ON l.band_key = r.band_key AND l.doc_id < r.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist,
               round(levenshtein(a.text, b.text) * 1.0
                     / greatest(greatest(length(a.text), length(b.text)), 1),
                     4) AS norm_dist
        FROM pairs p
        JOIN unioned a ON p.doc_a = a.doc_id
        JOIN unioned b ON p.doc_b = b.doc_id
    """


# --------------------------------------------------------------------------
# Temperature-scaled language sampling (α = 1/2, exact integer test)
# --------------------------------------------------------------------------

TEMP_RATE_NUM = 1  # base keep rate r0 = 1/4 for the LARGEST language
TEMP_RATE_DEN = 4
_TEMP_DENOM = 1_000_000
_DK_BUCKET = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
    f" AS BIGINT) % {_TEMP_DENOM}"
)


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling — the mC4/XLM-R mixing
    rule (Xue et al. 2021 §3.1; Conneau et al. 2020): languages are
    sampled ∝ n_l^α with α < 1 so low-resource languages are
    up-weighted. At α = 1/2 the per-document keep rate relative to the
    largest language is r_l = min(1, r0·√(n_max/n_l)), and the
    hash-Bernoulli test ``bucket/D < r_l`` SQUARES into exact integer
    arithmetic: keep ⟺ bucket²·n_l·den² < D²·num²·n_max. No libm
    ``pow`` (whose last ulp is engine-specific) and no cross-language
    float sum — the only cross-language fact is an integer max.

    Scale shape: one tiny per-language count aggregate and a one-row
    max, both broadcast back onto a zero-shuffle keep projection (the
    ``unimax_sample`` shape with a temperature numerator). The int64
    products hold to ~10¹² docs per language at D = 10⁶; beyond that
    widen the test to decimal(38,0)."""
    from interop_spark.operators.text import token_bucket

    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("lang_docs"))
    mx = counts.agg(F.max("lang_docs").alias("max_docs"))
    bucket = token_bucket(col("doc_id").cast("string"), _TEMP_DENOM)
    kept = (
        d.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(mx))
        .select(
            "lang",
            "lang_docs",
            "max_docs",
            (
                bucket * bucket * col("lang_docs")
                * F.lit(TEMP_RATE_DEN * TEMP_RATE_DEN)
                < F.lit(_TEMP_DENOM**2 * TEMP_RATE_NUM**2) * col("max_docs")
            )
            .cast("int")
            .alias("keep"),
        )
    )
    return kept.groupBy("lang").agg(
        F.min("lang_docs").alias("lang_docs"),
        F.min("max_docs").alias("max_docs"),
        F.sum("keep").cast("long").alias("n_kept"),
    )


def _temperature_oracle() -> str:
    return f"""
        WITH c AS (SELECT lang, count(*) AS lang_docs FROM documents
                   GROUP BY lang),
        m AS (SELECT max(lang_docs) AS max_docs FROM c),
        b AS (
          SELECT d.lang, c.lang_docs, m.max_docs,
                 {_DK_BUCKET} AS bk
          FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN m
        )
        SELECT lang, min(lang_docs) AS lang_docs, min(max_docs) AS max_docs,
               CAST(sum(CASE WHEN bk * bk * lang_docs
                                  * {TEMP_RATE_DEN * TEMP_RATE_DEN}
                             < {_TEMP_DENOM**2 * TEMP_RATE_NUM**2} * max_docs
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM b GROUP BY lang
    """


# --------------------------------------------------------------------------
# Bloom-filter incremental dedup (new batch vs ingested history)
# --------------------------------------------------------------------------

def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup with a Bloom membership filter (Bloom
    1970; the structure CCNet-class pipelines use to dedup a NEW crawl
    against petabytes of already-ingested history without re-scanning
    it): even-id documents play the ingested history, odd-id documents
    the new batch. The history collapses to a fixed 4096-bit bitmap
    (``dedup.bloom_bits`` — the shuffle carries at most n_bits rows
    regardless of history size) that broadcasts onto a zero-shuffle
    probe of the batch. Output is the one-row audit: flagged counts
    split into true duplicates vs false positives (ground truth via an
    exact fingerprint semi-join — the expensive check the Bloom filter
    exists to avoid; run here because the gate must prove the
    no-false-NEGATIVE contract: every true dup must be flagged)."""
    from interop_spark.operators.text import fingerprint

    d = load(spark, sf_dir, "documents")
    hist = d.where(col("doc_id") % 2 == 0)
    batch = d.where(col("doc_id") % 2 == 1)
    probed = dd.bloom_probe(batch, dd.bloom_bits(hist, "text"))
    hist_fp = hist.select(
        fingerprint(col("text")).alias("fp")
    ).distinct().withColumn("_seen", F.lit(1))
    truth = (
        batch.select("doc_id", fingerprint(col("text")).alias("fp"))
        .join(F.broadcast(hist_fp), "fp", "left")
        .select(
            "doc_id", F.coalesce(col("_seen"), F.lit(0)).alias("actual")
        )
    )
    j = probed.join(truth, "doc_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.min("n_set_bits").alias("n_set_bits"),
        F.sum(col("probably_seen").cast("int")).cast("long").alias(
            "n_flagged"
        ),
        F.sum("actual").cast("long").alias("n_true_dups"),
        F.sum(
            (col("probably_seen") & (col("actual") == 0)).cast("int")
        ).cast("long").alias("n_false_pos"),
        F.sum(
            ((~col("probably_seen")) & (col("actual") == 1)).cast("int")
        ).cast("long").alias("n_false_neg"),
    )


def _bloom_oracle() -> str:
    fp = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
    pos = ",\n                 ".join(
        f"CAST(concat('0x', substr(md5('bloom{j}|' || {fp}), 1, 8))"
        f" AS BIGINT) % {dd.BLOOM_BITS}"
        for j in range(dd.BLOOM_HASHES)
    )
    return f"""
        WITH hist_bits AS (
          SELECT DISTINCT unnest([{pos}]) AS bit
          FROM documents WHERE doc_id % 2 = 0
        ),
        bm AS (SELECT list(bit ORDER BY bit) AS bits,
                      count(*) AS n_set_bits FROM hist_bits),
        hist_fp AS (
          SELECT DISTINCT {fp} AS hfp FROM documents WHERE doc_id % 2 = 0
        ),
        batch AS (
          SELECT doc_id, [{pos}] AS probe, {fp} AS bfp
          FROM documents WHERE doc_id % 2 = 1
        ),
        probed AS (
          SELECT b.doc_id,
                 len(list_filter(b.probe,
                     p -> list_contains(bm.bits, p))) = {dd.BLOOM_HASHES}
                   AS flagged,
                 bm.n_set_bits,
                 EXISTS (SELECT 1 FROM hist_fp h WHERE h.hfp = b.bfp)
                   AS actual
          FROM batch b CROSS JOIN bm
        )
        SELECT CAST(count(*) AS BIGINT) AS n_probed,
               CAST(min(n_set_bits) AS BIGINT) AS n_set_bits,
               CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged,
               CAST(sum(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_true_dups,
               CAST(sum(CASE WHEN flagged AND NOT actual THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_false_pos,
               CAST(sum(CASE WHEN NOT flagged AND actual THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_false_neg
        FROM probed
    """


# --------------------------------------------------------------------------
# Integer PageRank quality weighting over a derived link graph
# --------------------------------------------------------------------------

PR_ITERS = 3
PR_TOPK = 20


def q_pagerank_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph quality weighting for corpus curation (the Common
    Crawl ranking family): 3 exact-integer PageRank iterations
    (``graph.pagerank_int``) over a deterministic 2-out-link graph
    derived from the document ids (dst = (7i+1) mod n and (13i+3) mod
    n — closed-form so the DuckDB oracle rebuilds the identical graph),
    then the top-20 ranks. Integer arithmetic makes the result
    independent of Spark's float-sum order; the top-k is
    TakeOrderedAndProject (never a global sort materialization), and
    the rank_pos window runs over the 20 surviving rows only."""
    from interop_spark.operators.graph import pagerank_int

    d = load(spark, sf_dir, "documents").select("doc_id")
    nrow = d.agg(F.count(F.lit(1)).alias("n"))
    nodes = d.select(col("doc_id").alias("node"))
    edges = d.crossJoin(F.broadcast(nrow)).select(
        col("doc_id").alias("src"),
        F.explode(
            F.array(
                (col("doc_id") * 7 + 1) % col("n"),
                (col("doc_id") * 13 + 3) % col("n"),
            )
        ).alias("dst"),
        F.lit(2).alias("outdeg"),
    )
    pr = pagerank_int(nodes, edges, iterations=PR_ITERS)
    top = pr.orderBy(col("rank_ppm").desc(), col("node").asc()).limit(
        PR_TOPK
    )
    w = Window.orderBy(col("rank_ppm").desc(), col("node").asc())
    return top.withColumn("rank_pos", F.row_number().over(w)).select(
        "rank_pos", col("node").alias("doc_id"), "rank_ppm"
    )


def _pagerank_oracle() -> str:
    from interop_spark.operators.graph import DAMP_DEN, DAMP_NUM, RANK_PPM

    teleport = RANK_PPM * (DAMP_DEN - DAMP_NUM) // DAMP_DEN
    step = (
        "SELECT nd.node AS node,\n"
        f"             CAST({teleport} + coalesce(sum("
        f"(r.r * {DAMP_NUM}) // ({DAMP_DEN} * e.outdeg)), 0) AS BIGINT)"
        " AS r\n"
        "      FROM nodes nd\n"
        "      LEFT JOIN edges e ON e.dst = nd.node\n"
        "      LEFT JOIN {prev} r ON r.node = e.src\n"
        "      GROUP BY nd.node"
    )
    iters = ",\n        ".join(
        f"i{k} AS ({step.format(prev=('r0' if k == 1 else f'i{k - 1}'))})"
        for k in range(1, PR_ITERS + 1)
    )
    return f"""
        WITH n AS (SELECT count(*) AS n FROM documents),
        nodes AS (SELECT doc_id AS node FROM documents),
        edges AS (
          SELECT doc_id AS src,
                 unnest([(doc_id * 7 + 1) % n.n,
                         (doc_id * 13 + 3) % n.n]) AS dst,
                 2 AS outdeg
          FROM documents, n
        ),
        r0 AS (SELECT doc_id AS node, CAST({RANK_PPM} AS BIGINT) AS r
               FROM documents),
        {iters}
        SELECT CAST(row_number() OVER (ORDER BY r DESC, node ASC)
                 AS INTEGER) AS rank_pos,
               node AS doc_id, r AS rank_ppm
        FROM i{PR_ITERS} ORDER BY r DESC, node ASC LIMIT {PR_TOPK}
    """


# --------------------------------------------------------------------------
# Containment near-dup, training-shard assignment, vocab coverage
# --------------------------------------------------------------------------

N_SHARDS = 16
VOCAB_TOP = 64


def q_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (Broder 1997 §2's second measure):
    MinHash-LSH candidates verified by exact |A∩B|/|A| — the
    quote/excerpt/template case Jaccard under-scores because the union
    dominates. The planted first-word-dropped mutants are true subsets
    of their sources, so their mutant-side containment pins at 1.0."""
    from interop_spark.operators.dedup import containment_verified_pairs

    d = _with_near_dups(load(spark, sf_dir, "documents"), limit=100)
    return containment_verified_pairs(
        d, "doc_id", "text", k=MINHASH_K, bands=BANDS, rows=ROWS,
        shingle_n=SHINGLE_N,
    )


def _containment_oracle() -> str:
    return f"""
        WITH unioned AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 100
          UNION ALL
          SELECT doc_id + {DUP_OFFSET},
                 substring(text, instr(text, ' ') + 1)
          FROM documents WHERE doc_id < 100
        ),
        sh AS (SELECT doc_id, text, {_dk_shingles()} AS sh FROM unioned),
        sig AS (SELECT doc_id, text, {_dk_minhash_sig()} AS sig FROM sh),
        banded AS (
          SELECT doc_id, unnest({_dk_band_keys()}) AS band_key FROM sig
        ),
        pairs AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM banded l JOIN banded r
            ON l.band_key = r.band_key AND l.doc_id < r.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               CAST(len(a.sh) AS INTEGER) AS n_shingles_a,
               CAST(len(b.sh) AS INTEGER) AS n_shingles_b,
               round(len(list_intersect(a.sh, b.sh)) * 1.0
                     / greatest(len(a.sh), 1), 4) AS containment_a,
               round(len(list_intersect(a.sh, b.sh)) * 1.0
                     / greatest(len(b.sh), 1), 4) AS containment_b
        FROM pairs p
        JOIN sh a ON p.doc_a = a.doc_id
        JOIN sh b ON p.doc_b = b.doc_id
    """


def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment — the writer-side step of
    a pretraining pipeline: every document hashes to one of N output
    shards (reproducible across runs/engines, unlike round-robin
    repartition), and the per-shard audit proves the balance a
    hash-partitioned ``.write`` will see. Zero-shuffle assignment (a
    projection over the scan); one N-key aggregate. At 100 TB the same
    column feeds ``df.repartition(N, col).write`` so shard files land
    balanced without a global sort."""
    from interop_spark.operators.text import token_bucket

    d = load(spark, sf_dir, "documents")
    shard = token_bucket(col("doc_id").cast("string"), N_SHARDS)
    return (
        d.select(shard.alias("shard"), "doc_id", "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


def _shard_oracle() -> str:
    bucket = (
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
        f" AS BIGINT) % {N_SHARDS}"
    )
    return f"""
        SELECT {bucket} AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               min(doc_id) AS min_doc,
               max(doc_id) AS max_doc
        FROM documents GROUP BY 1
    """


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: what fraction of token
    OCCURRENCES a closed top-{VOCAB_TOP} vocabulary covers, per
    language — the OOV-rate check run before committing to a tokenizer.
    The vocabulary is the corpus's own top-{VOCAB_TOP} tokens under a
    TOTAL order (count desc, token asc — boundary ties are
    deterministic in both engines); coverage is exact integer ppm.

    Scale shape: vocab induction is one token-keyed count + a top-k
    (TakeOrderedAndProject); the coverage pass joins the corpus tokens
    against the broadcast {VOCAB_TOP}-row vocab — no corpus-keyed
    shuffle beyond the per-language aggregate."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(tx_tokens(col("text"))).alias("tok"))
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(VOCAB_TOP)
        .select("tok", F.lit(1).alias("_inv"))
    )
    return (
        toks.join(F.broadcast(top), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("_inv"), F.lit(0)))
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_covered",
            F.expr("n_covered * 1000000 div n_tokens").alias(
                "coverage_ppm"
            ),
        )
    )


def _vocab_coverage_oracle() -> str:
    return f"""
        WITH toks AS (
          SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS tok
          FROM documents
        ),
        top AS (
          SELECT tok FROM toks GROUP BY tok
          ORDER BY count(*) DESC, tok ASC LIMIT {VOCAB_TOP}
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN tok IN (SELECT tok FROM top)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
               CAST(sum(CASE WHEN tok IN (SELECT tok FROM top)
                        THEN 1 ELSE 0 END) AS BIGINT) * 1000000
                 // count(*) AS coverage_ppm
        FROM toks GROUP BY lang
    """


# --------------------------------------------------------------------------
# Within-document repeated-line removal
# --------------------------------------------------------------------------

RL_LIMIT = 200


def q_dup_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-line removal through the gate: every 4th
    document gets its own FIRST line re-appended at the end (planted
    in-doc repetition — scraped pages and logs repeat their own
    headers), and ``dedup.remove_repeated_lines`` must excise exactly
    the planted copies while untouched docs pass through with
    n_removed = 0 and an unchanged reassembly hash."""
    from interop_spark.operators.dedup import remove_repeated_lines

    d = load(spark, sf_dir, "documents").where(col("doc_id") < RL_LIMIT)
    first_line = F.get(F.split(col("text"), "\n"), 0)
    planted = d.select(
        "doc_id",
        F.when(
            col("doc_id") % 4 == 0,
            F.concat_ws("\n", col("text"), first_line),
        )
        .otherwise(col("text"))
        .alias("text"),
    )
    return remove_repeated_lines(planted)


def _dup_line_oracle() -> str:
    return f"""
        WITH docs AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 0 THEN
                   text || chr(10) || string_split(text, chr(10))[1]
                 ELSE text END AS text
          FROM documents WHERE doc_id < {RL_LIMIT}
        ),
        sp AS (SELECT doc_id, string_split(text, chr(10)) AS sp FROM docs),
        lines AS (
          SELECT doc_id, i - 1 AS pos, sp[i] AS line
          FROM sp, unnest(generate_series(1, len(sp))) AS g(i)
        ),
        flagged AS (
          SELECT doc_id, pos, line,
                 (trim(line) = '' OR row_number() OVER (
                    PARTITION BY doc_id, md5(line) ORDER BY pos) = 1)
                   AS keep
          FROM lines
        )
        SELECT doc_id,
               CAST(count(1) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_removed,
               md5(string_agg(line, chr(10) ORDER BY pos)
                   FILTER (WHERE keep)) AS clean_md5
        FROM flagged GROUP BY doc_id
    """


# --------------------------------------------------------------------------
# Per-source quota capping (round-12 continuation)
# --------------------------------------------------------------------------

SOURCE_QUOTA = 10


def source_quota_kept(d: DataFrame, quota: int = SOURCE_QUOTA) -> DataFrame:
    """Core of the per-source quota cap over a ``(source, doc_id)``
    frame: keep at most ``quota`` documents per source, chosen
    deterministically by md5(doc_id) rank. Only over-quota sources pay
    for a rank — per-source counts are a tiny partial-agg broadcast,
    under-quota sources' documents bypass with a broadcast anti-join
    (zero shuffle, the long-tail common case), and the single
    row_number window over the over-quota subset is pruned map-side by
    Spark's partial WindowGroupLimit (each task forwards ≤quota rows
    per source into the rank shuffle — a planted hot host inflates the
    scan, never the exchange). Shared by the driver row and the bench
    scaling probe."""
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    over = counts.where(col("n_total") > quota).select("source")
    under_docs = d.join(F.broadcast(over), "source", "left_anti")
    w = Window.partitionBy("source").orderBy(
        F.md5(col("doc_id").cast("string")), "doc_id"
    )
    over_docs = (
        d.join(F.broadcast(over), "source", "left_semi")
        .withColumn("rn", F.row_number().over(w))
        .where(col("rn") <= quota)
        .drop("rn")
    )
    return under_docs.unionByName(over_docs)


def q_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota — the MassiveText / RefinedWeb host-cap
    rule (Rae et al. 2021 §A.1.2 cap documents per domain; Penedo et
    al. 2023): keep at most ``SOURCE_QUOTA`` documents per source,
    chosen deterministically by md5(doc_id) rank so the cut is
    rerun-stable and engine-independent. COUNT-capped selection — a
    different contract from the rate-based ``domain_mix_sample`` /
    ``stratified_sample`` Bernoulli gates: quotas bound the worst-case
    contribution of any single host no matter how large it is.
    Scale shape: see ``source_quota_kept``. Output pins membership,
    not just counts: ``kept_id_sum`` is the order-independent checksum
    of WHICH documents survived."""
    d = load(spark, sf_dir, "documents").select("source", "doc_id")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    kept = source_quota_kept(d, SOURCE_QUOTA)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
        )
        .join(F.broadcast(counts), "source")
        .select("source", "n_total", "n_kept", "kept_id_sum")
    )


def _source_quota_oracle() -> str:
    return f"""
        WITH r AS (
          SELECT source, doc_id,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rn,
                 count(*) OVER (PARTITION BY source) AS n_total
          FROM documents
        )
        SELECT source,
               CAST(max(n_total) AS BIGINT) AS n_total,
               CAST(count(*) FILTER (WHERE rn <= {SOURCE_QUOTA}) AS BIGINT)
                 AS n_kept,
               CAST(sum(doc_id) FILTER (WHERE rn <= {SOURCE_QUOTA}) AS BIGINT)
                 AS kept_id_sum
        FROM r GROUP BY source
    """


# --------------------------------------------------------------------------
# Per-domain quality-quantile filtering (round-12 continuation)
# --------------------------------------------------------------------------

QUANTILE_KEEP_NUM = 1  # keep the top 1/4 of each source by score
QUANTILE_KEEP_DEN = 4


def q_domain_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality-quantile selection — the FineWeb-Edu /
    classifier-threshold curation shape (Penedo et al. 2024; Brown et
    al. 2020 §A used a global score cut): within every source, keep the
    documents whose quality score reaches that source's top-q quantile,
    so one high-volume low-quality domain cannot flood the cut and
    small clean domains are not globally out-scored.

    The score is integer lexical diversity (distinct-token per-mille,
    ``(1000·distinct) div total`` — exact in any engine; plug in a
    calibrated classifier logit in production). The quantile threshold
    is NOT a per-source sort: scores live in a bounded range
    [0, 1000], so the corpus collapses into a per-(source, score)
    histogram — partial aggregation caps every map task's output at
    1001 rows per source, the only corpus-wide shuffle is on those
    bounded keys, the running-sum window runs over the TINY histogram,
    and the thresholds broadcast back onto a zero-shuffle filter. The
    k-th-largest-with-ties contract (``cum ≥ ceil(q·n)``, keep
    ``score ≥ threshold``) is deterministic under any tie layout.
    ``kept_id_sum`` pins membership."""
    d = load(spark, sf_dir, "documents")
    t = tx_tokens(col("text"))
    scored = d.select(
        "source",
        "doc_id",
        F.size(F.array_distinct(t)).cast("long").alias("nd"),
        F.size(t).cast("long").alias("nt"),
    ).select(
        "source",
        "doc_id",
        F.expr("CAST((1000 * nd) div nt AS INT)").alias("score"),
    )
    hist = scored.groupBy("source", "score").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    totals = hist.groupBy("source").agg(F.sum("cnt").alias("n_total"))
    w = (
        Window.partitionBy("source")
        .orderBy(col("score").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).join(
        F.broadcast(totals), "source"
    )
    k = F.ceil(
        col("n_total") * QUANTILE_KEEP_NUM / QUANTILE_KEEP_DEN
    ).cast("bigint")
    thr = (
        cum.where(col("cum") >= k)
        .groupBy("source")
        .agg(
            F.max("score").alias("threshold"),
            F.min("n_total").cast("bigint").alias("n_total"),
        )
    )
    kept = scored.join(F.broadcast(thr), "source").where(
        col("score") >= col("threshold")
    )
    return kept.groupBy("source").agg(
        F.min("n_total").alias("n_total"),
        F.min("threshold").alias("threshold"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
    )


def _domain_quantile_oracle() -> str:
    return f"""
        WITH s AS (
          SELECT source, doc_id,
                 CAST((1000 * len(list_distinct({_SEL_TOKENS})))
                      // len({_SEL_TOKENS}) AS INT) AS score
          FROM documents
        ),
        h AS (SELECT source, score, count(*) AS cnt FROM s GROUP BY 1, 2),
        n AS (SELECT source, sum(cnt) AS n_total FROM h GROUP BY 1),
        c AS (
          SELECT h.source, h.score,
                 sum(h.cnt) OVER (
                   PARTITION BY h.source ORDER BY h.score DESC
                 ) AS cum,
                 n.n_total
          FROM h JOIN n USING (source)
        ),
        t AS (
          SELECT source, max(score) AS threshold, min(n_total) AS n_total
          FROM c
          WHERE cum >= ceil(n_total * {QUANTILE_KEEP_NUM}
                            / {QUANTILE_KEEP_DEN})
          GROUP BY source
        )
        SELECT s.source,
               CAST(min(t.n_total) AS BIGINT) AS n_total,
               CAST(min(t.threshold) AS INT) AS threshold,
               CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(s.doc_id) AS BIGINT) AS kept_id_sum
        FROM s JOIN t USING (source)
        WHERE s.score >= t.threshold
        GROUP BY s.source
    """


_SEL_TOKENS = "string_split_regex(trim(text), '\\s+')"

# token-count document weight — a cross-engine parity-critical pair
# (size(NULL) is -1 in Spark vs len(NULL) NULL in DuckDB; both coerced
# by greatest): keep the Spark expression and its SQL twin together so
# the weighted rows (weighted_sample_topk, weighted_percentile) cannot
# drift apart (r19 review)
_SEL_WEIGHT_SQL = f"CAST(greatest(len({_SEL_TOKENS}), 1) AS BIGINT)"


def _token_weight():
    return F.greatest(F.size(tx_tokens(col("text"))), F.lit(1)).cast(
        "long"
    )


# --------------------------------------------------------------------------
# Per-source distribution-drift monitor (round-13)
# --------------------------------------------------------------------------

DRIFT_BUCKETS = 64


def q_source_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-DRIFT monitor — the χ² statistic of each source's
    token distribution against the whole corpus, over ``DRIFT_BUCKETS``
    hashed vocabulary buckets: the "did today's crawl shift?" check a
    production ingest runs before mixing a new source in (the
    bucketed-χ² form keeps the statistic bounded-dimensional no matter
    the vocabulary). KL would need ln (not exact-rounded cross-engine);
    χ² is products/divisions only, so with both engines evaluating the
    SAME operand order per term, the only nondeterminism is summation
    order — absorbed by the final round-6.

    Missing (source, bucket) cells contribute (0−e)²/e = e, so the
    statistic folds to ``n_s + Σ_present((o−e)²/e − e)`` — no
    densification join. Scale shape: one token explode into a BOUNDED
    (source × bucket) aggregate (partial agg caps map output), corpus
    bucket totals broadcast back, per-source sum over ≤64 terms."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tx_tokens(col("text"))).alias("w")
    ).where(col("w") != "")
    b = toks.select(
        "source",
        (
            F.conv(F.substring(F.md5(col("w")), 1, 8), 16, 10).cast(
                "bigint"
            )
            % DRIFT_BUCKETS
        ).alias("bucket"),
    )
    sb = b.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    n_s = sb.groupBy("source").agg(F.sum("o").alias("n_s"))
    cb = sb.groupBy("bucket").agg(F.sum("o").alias("nb"))
    nn = sb.agg(F.sum("o").alias("nn"))
    x = (
        sb.join(F.broadcast(n_s), "source")
        .join(F.broadcast(cb), "bucket")
        .crossJoin(F.broadcast(nn))
        .withColumn("e", col("n_s") * col("nb") / col("nn"))
        .withColumn(
            "term",
            (col("o") - col("e")) * (col("o") - col("e")) / col("e")
            - col("e"),
        )
    )
    return x.groupBy("source").agg(
        F.min("n_s").cast("long").alias("n_tokens"),
        F.round(F.min("n_s") + F.sum("term"), 6).alias("chi2"),
        F.count(F.lit(1)).cast("long").alias("n_buckets_present"),
    )


def _source_drift_oracle() -> str:
    return f"""
        WITH t AS (
          SELECT source, unnest({_SEL_TOKENS}) AS w FROM documents
        ),
        t2 AS (SELECT source, w FROM t WHERE w <> ''),
        b AS (
          SELECT source,
                 CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT)
                   % {DRIFT_BUCKETS} AS bucket
          FROM t2
        ),
        sb AS (
          SELECT source, bucket, CAST(count(*) AS DOUBLE) AS o
          FROM b GROUP BY 1, 2
        ),
        s AS (SELECT source, sum(o) AS n_s FROM sb GROUP BY 1),
        cb AS (SELECT bucket, sum(o) AS nb FROM sb GROUP BY 1),
        n AS (SELECT sum(o) AS nn FROM sb),
        x AS (
          SELECT sb.source, sb.o, s.n_s,
                 s.n_s * cb.nb / n.nn AS e
          FROM sb JOIN s USING (source) JOIN cb USING (bucket), n
        )
        SELECT source,
               CAST(min(n_s) AS BIGINT) AS n_tokens,
               round(min(n_s)
                     + sum((o - e) * (o - e) / e - e), 6) AS chi2,
               CAST(count(*) AS BIGINT) AS n_buckets_present
        FROM x GROUP BY source
    """


# --------------------------------------------------------------------------
# Iterated BPE vocabulary training (round-13)
# --------------------------------------------------------------------------

BPE_TRAIN_ROUNDS = 4


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BPE training LOOP (Sennrich et al. 2016 §3.2) as a
    driver query — `bpe_merge_candidates` checks one round's pair
    count; this checks ``BPE_TRAIN_ROUNDS`` iterated rounds including
    greedy merge APPLICATION between them (window-function formulation,
    `operators/text.py:bpe_train_merges`), completing the tokenizer
    story beside `bpe_encode`'s fixed-vocab encoding. The oracle
    unrolls the rounds as chained CTEs replicating every window
    exactly; ties in the argmax resolve by the shared (count desc,
    a asc, b asc) total order. Corpus cost is the one word-frequency
    aggregate; every round is vocabulary-sized."""
    from interop_spark.operators.text import bpe_train_merges

    d = load(spark, sf_dir, "documents")
    # checkpoint the vocabulary-bounded word-frequency table (the
    # q_bpe_train_encode discipline): training's round-1 jobs read it
    # materialized instead of re-tokenizing the corpus per job, now
    # that the operator derives the initial symbol table lazily (r20)
    wf = (
        d.select(F.explode(tx_tokens(col("text"))).alias("w"))
        .where(col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    return bpe_train_merges(wf, BPE_TRAIN_ROUNDS)


def _bpe_train_ctes(rounds: int) -> list[str]:
    """The unrolled training CTE parts (shared by the train-only oracle
    and the train→encode composition oracle): lead-pair count → argmax
    (count desc, (a,b) asc) → match flag → gap-and-island run key →
    odd-offset keep → consume-next via lag → renumber; round r's argmax
    lands in CTE ``b{r}``."""
    parts = [
        f"""wf AS (
          SELECT w, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT unnest({_SEL_TOKENS}) AS w FROM documents)
          WHERE w <> '' GROUP BY w
        ),
        idx AS (  -- lateral list-unnest: generate_series as a scalar
          SELECT w, c, unnest(generate_series(1, length(w))) AS i FROM wf
        ),
        seq0 AS (
          SELECT w, c, i - 1 AS pos, substr(w, i, 1) AS sym FROM idx
        )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""p{r} AS (
          SELECT w, c, pos, sym,
                 lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
          FROM seq{r - 1}
        ),
        c{r} AS (
          SELECT sym AS a, nxt AS b, sum(c) AS pc
          FROM p{r} WHERE nxt IS NOT NULL GROUP BY 1, 2
        ),
        b{r} AS (SELECT a, b, pc FROM c{r} ORDER BY pc DESC, a, b LIMIT 1),
        m{r} AS (
          SELECT p.*, (p.sym = (SELECT a FROM b{r})
                       AND p.nxt = (SELECT b FROM b{r})) AS is_match
          FROM p{r} p
        ),
        g{r} AS (
          SELECT *, sum(CASE WHEN is_match THEN 1 ELSE 0 END) OVER (
                   PARTITION BY w ORDER BY pos ROWS UNBOUNDED PRECEDING
                 ) AS cnt
          FROM m{r}
        ),
        i{r} AS (
          SELECT *, row_number() OVER (
                   PARTITION BY w, pos - cnt, is_match ORDER BY pos
                 ) AS idx
          FROM g{r}
        ),
        k{r} AS (
          SELECT *, (is_match AND idx % 2 = 1) AS keep FROM i{r}
        ),
        d{r} AS (
          SELECT *, coalesce(lag(keep) OVER (
                   PARTITION BY w ORDER BY pos), false) AS consumed
          FROM k{r}
        ),
        seq{r} AS (
          SELECT w, c,
                 row_number() OVER (PARTITION BY w ORDER BY pos) - 1
                   AS pos,
                 CASE WHEN keep THEN sym || nxt ELSE sym END AS sym
          FROM d{r} WHERE NOT consumed
        )""")
        # (seq{rounds} is unused but keeps the per-round shape uniform)
    return parts


def _bpe_train_oracle(rounds: int) -> str:
    """Train-only oracle: the unrolled CTE chain's per-round argmaxes."""
    parts = _bpe_train_ctes(rounds)
    selects = "\n        UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS merge_round, a, b, a || b AS merged,"
        f" CAST(pc AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n        ".join(parts) + "\n        " + selects


def q_bpe_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN → ENCODE composition (round-14): the tokenizer loop CLOSED
    — ``bpe_train_merges`` learns ``BPE_TRAIN_ROUNDS`` merges from the
    corpus word-frequency table, and the corpus is then encoded with
    the LEARNED merge list (not the fixed toy vocab ``bpe_encode``
    uses), proving the training output actually drives encoding. Same
    per-doc output contract as ``bpe_encode``: token count, piece
    count, and the order-independent (word → pieces) hash that pins the
    actual subword strings. The oracle chains the training CTEs into
    the recursive greedy-encode replay, so DuckDB re-learns AND
    re-applies the identical merges.

    Scale shape: training cost is the one word-frequency aggregate plus
    vocabulary-sized rounds (`operators/text.py:bpe_train_merges`); the
    learned table is ``rounds`` rows — a bounded model fetch, the PQ-
    codebook pattern — and encoding touches Python only on the
    DISTINCT-word dictionary (Arrow-batched), never the token stream."""
    from interop_spark.operators.text import (
        bpe_pieces_udf,
        bpe_train_merges_list,
    )

    d = load_spread(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(tx_tokens(col("text"))).alias("w")
    ).where(col("w") != "")
    # the word-frequency table is VOCABULARY-bounded — checkpoint it so
    # training reads it without re-tokenizing the corpus, and the
    # encode dictionary is its key set for free (pre-r19, training and
    # the words.distinct() vocab each re-derived the corpus tokenize:
    # three corpus passes where one suffices; r19 optimization round)
    wf = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    trained = bpe_train_merges_list(wf, BPE_TRAIN_ROUNDS)
    merges = [
        (a, b) for _, a, b, _, _ in trained
    ]  # rounds-sized model, already driver-side (r20: the literal
    # panel's orderBy+collect round-trip was one job per construction;
    # bpe_train_merges_list returns rounds in ascending order)
    vocab = wf.select("w")
    enc = vocab.select(
        "w", bpe_pieces_udf(merges)(col("w")).alias("pieces_str")
    )
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
            )
            .cast("bigint")
            .alias("enc_hash"),
        )
    )


def _bpe_train_encode_oracle(rounds: int) -> str:
    """Training CTEs (the learned per-round argmaxes ``b1..b{rounds}``)
    feeding the same recursive greedy-encode replay `bpe_encode`'s
    oracle runs against its literal table: each recursion fuses the
    LEFTMOST occurrence of the MIN-RANK applicable merge on a
    chr(31)-delimited piece string."""
    parts = _bpe_train_ctes(rounds)
    trained = "\n          UNION ALL ".join(
        f"SELECT {r} AS rank,"
        f" chr(31) || a || chr(31) || b || chr(31) AS pat,"
        f" chr(31) || a || b || chr(31) AS rep FROM b{r}"
        for r in range(1, rounds + 1)
    )
    joined_parts = ",\n        ".join(parts)
    return f"""
        WITH RECURSIVE
        {joined_parts},
        trained AS (
          {trained}
        ),
        dwords AS (
          SELECT doc_id, unnest({_SEL_TOKENS}) AS w FROM documents
        ),
        vocab AS (SELECT DISTINCT w FROM dwords WHERE w <> ''),
        enc AS (
          SELECT w,
                 chr(31) || regexp_replace(w, '(.)', '\\1' || chr(31), 'g')
                   AS s
          FROM vocab
          UNION ALL
          SELECT w,
                 (SELECT substr(s, 1, position(m.pat IN s) - 1) || m.rep
                         || substr(s, position(m.pat IN s) + length(m.pat))
                  FROM trained m WHERE position(m.pat IN s) > 0
                  ORDER BY m.rank LIMIT 1)
          FROM enc
          WHERE EXISTS (SELECT 1 FROM trained m
                        WHERE position(m.pat IN s) > 0)
        ),
        pieced AS (
          SELECT w,
                 replace(trim(s, chr(31)), chr(31), ' ') AS pieces_str
          FROM enc
          WHERE NOT EXISTS (SELECT 1 FROM trained m
                            WHERE position(m.pat IN s) > 0)
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(len(string_split(p.pieces_str, ' '))) AS BIGINT)
                 AS n_pieces,
               CAST(sum(CAST(concat('0x',
                        substr(md5(concat(w, '->', p.pieces_str)), 1, 8))
                      AS BIGINT)) AS BIGINT) AS enc_hash
        FROM dwords JOIN pieced p USING (w)
        WHERE w <> ''
        GROUP BY doc_id
    """


# --------------------------------------------------------------------------
# HyperLogLog distinct-cardinality sketch (round-13)
# --------------------------------------------------------------------------

from interop_spark.operators.sketch import (  # noqa: E402 - section header
    HLL_ALPHA,
    HLL_M,
    HLL_P,
    HLL_WBITS,
    RS_CAPACITY,
    RS_HBITS,
    hll_estimate,
    hll_registers,
    rank_sketch_build,
    rank_sketch_group_quantile,
    rank_sketch_quantiles,
)


def q_hll_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token cardinality (Flajolet et al. 2007) —
    the sketch every corpus accountant keeps where exact COUNT(DISTINCT)
    would shuffle the full key set (vocabulary growth curves, unique
    URL/host tallies). Like the CountMin/Bloom rows, the hash is a
    seeded md5 slice so the sketch is ENGINE-EXACT and the estimate is
    oracle-pinned, not just statistically close: register index = low 8
    bits of a 48-bit slice, rank = leading-zero count of the remaining
    40 bits via integer bit-length (``length(bin(w))`` — no float log),
    and the harmonic sum is a sum of dyadic rationals (each 2^-M has one
    mantissa bit, rank ≤ 41, 256 terms → exact in a 53-bit double in ANY
    summation order). The small-range linear-counting correction is
    deliberately omitted (ln is not exact-rounded cross-engine);
    production estimators add LogLog-Beta on top. ``overestimate`` bias
    is exposed against the exact count the way ``minhash_est_error``
    and ``countmin_estimate`` pin sketch quality.

    Scale shape: one explode → 256-key max aggregate (partial max
    collapses every map task to ≤256 rows); the exact side is the only
    full-vocabulary shuffle and exists purely as the quality yardstick.
    Core in `operators/sketch.py` (shared with the streaming
    register-merge twin `stream_hll_users`)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(tx_tokens(col("text"))).alias("w")).where(
        col("w") != ""
    )
    est = hll_estimate(hll_registers(toks, col("w")))
    exact = toks.agg(F.countDistinct("w").alias("n_exact"))
    return est.crossJoin(F.broadcast(exact)).select(
        col("n_exact").cast("long").alias("n_exact"),
        "hll_estimate",
        "n_empty_buckets",
    )


def _hll_oracle() -> str:
    m = 1 << HLL_P
    return f"""
        WITH toks AS (
          SELECT unnest({_SEL_TOKENS}) AS w FROM documents
        ),
        t AS (SELECT w FROM toks WHERE w <> ''),
        h AS (
          SELECT CAST(concat('0x', substr(md5(w), 1, 12)) AS BIGINT) AS hv
          FROM t
        ),
        r AS (
          SELECT hv % {m} AS bucket,
                 CASE WHEN hv // {m} = 0 THEN {HLL_WBITS + 1}
                      ELSE {HLL_WBITS} - length(bin(hv // {m})) + 1
                 END AS rho
          FROM h
        ),
        regs AS (SELECT bucket, max(rho) AS reg FROM r GROUP BY bucket),
        s AS (
          SELECT sum(pow(2.0, -reg)) AS s_present,
                 count(*) AS n_present
          FROM regs
        ),
        e AS (SELECT count(DISTINCT w) AS n_exact FROM t)
        SELECT CAST(e.n_exact AS BIGINT) AS n_exact,
               round(CAST({HLL_ALPHA!r} AS DOUBLE)
                     * CAST({float(m * m)!r} AS DOUBLE)
                     / (s.s_present + ({m} - s.n_present)), 6)
                 AS hll_estimate,
               CAST({m} - s.n_present AS BIGINT) AS n_empty_buckets
        FROM s, e
    """


# --------------------------------------------------------------------------
# Deterministic weighted priority sampling (round-13)
# --------------------------------------------------------------------------

WEIGHTED_SAMPLE_K = 100


def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement as a top-k priority draw —
    the Efraimidis–Spirakis (2006) reservoir shape every curation
    pipeline uses to take a fixed-size, quality/length-weighted sample
    of an unbounded corpus in one pass. Each document draws a
    deterministic uniform from md5(doc_id) and competes with priority
    ``u / w`` (smaller wins; heavier documents win proportionally more
    often). The textbook key is ``u^(1/w)``; this uses the
    integer-ratio variant because ``pow``/``ln`` are not bit-portable
    across engines while IEEE double DIVISION is exact-rounded — so
    membership (not just counts) is engine-reproducible and the DuckDB
    oracle pins the exact sampled set.

    Scale shape: the priority is a per-row expression (no shuffle); the
    global top-k plans as TakeOrderedAndProject — every task keeps its
    local k and only k-row heaps travel, never a full sort or a
    corpus-wide Exchange. At 100 TB this is a single pass with O(k)
    driver state, the same contract as a streaming reservoir."""
    d = load(spark, sf_dir, "documents")
    w = _token_weight()
    h = F.conv(
        F.substring(F.md5(col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    scored = d.select(
        "doc_id",
        "source",
        w.alias("weight"),
        (h.cast("double") / w.cast("double")).alias("priority"),
    )
    return scored.orderBy("priority", "doc_id").limit(WEIGHTED_SAMPLE_K)


def _weighted_sample_oracle() -> str:
    return f"""
        WITH s AS (
          SELECT doc_id, source,
                 {_SEL_WEIGHT_SQL} AS weight,
                 CAST(CAST(concat('0x',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) AS DOUBLE)
                   / CAST({_SEL_WEIGHT_SQL} AS DOUBLE)
                   AS priority
          FROM documents
        )
        SELECT doc_id, source, weight, priority
        FROM s ORDER BY priority, doc_id LIMIT {WEIGHTED_SAMPLE_K}
    """


# --------------------------------------------------------------------------
# Mergeable rank/quantile sketch (round-14)
# --------------------------------------------------------------------------


def q_quantile_sketch_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation over an UNBOUNDED value column in O(capacity)
    state — the mergeable twin `domain_quantile_filter`'s exact
    histogram cannot be (that query relies on scores living in a
    bounded integer range). Hash-level sampling (the distinct-sampling
    / bottom-k discipline, Gibbons VLDB 2001, with the HLL determinism
    contract): each event's level is the leading-zero count of a
    seeded md5 slice of its unique event_id, the sketch keeps the
    ≤``RS_CAPACITY`` items at level ≥ T — a deterministic uniform
    sample — and quantile selection is the SAMPLE quantile via an
    ALL-INTEGER rank comparison both engines evaluate identically
    (self-normalizing, so the tail-count bias of a raw 2^T scale-up
    cancels). ``true_rank`` pins estimator quality against the exact
    corpus rank, the ``countmin_estimate`` / ``minhash_est_error``
    instrumentation pattern.

    Scale shape: one narrow projection + a ≤33-key partial-aggregated
    histogram; the survivor filter is a second pruned-column scan
    against a broadcast 1-row threshold; estimation runs on the
    capacity-bounded survivor frame. Core in `operators/sketch.py`
    (shared with the streaming register-merge twin
    `stream_quantile_sketch`)."""
    # load_spread: both sketch passes md5-hash every event_id
    ev = load_spread(spark, sf_dir, "events")
    sk = rank_sketch_build(ev, col("value"), col("event_id"))
    est = rank_sketch_quantiles(sk)
    # exact rank of each estimate — 3 broadcast rows against one
    # corpus aggregate pass, instrumentation only. Plain load here
    # (r19): the nested-loop count reads only `value`, so the spread's
    # repartition exchange bought nothing in this branch.
    ev_audit = load(spark, sf_dir, "events")
    tr = (
        est.select("quantile", "est_value")
        .join(ev_audit, ev_audit.value <= col("est_value"), "left")
        .groupBy("quantile")
        .agg(F.count("value").cast("long").alias("true_rank"))
    )
    return est.join(F.broadcast(tr), "quantile")


def _quantile_sketch_oracle() -> str:
    return f"""
        WITH items AS (
          SELECT v,
                 CASE WHEN h = 0 THEN {RS_HBITS}
                      ELSE {RS_HBITS} - length(bin(h)) END AS level
          FROM (
            SELECT value AS v,
                   CAST(concat('0x',
                        substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS h
            FROM events)
        ),
        hist AS (
          SELECT level, CAST(count(*) AS BIGINT) AS cnt
          FROM items GROUP BY 1
        ),
        ts AS (SELECT unnest(generate_series(0, {RS_HBITS + 1})) AS t),
        tails AS (
          SELECT t, (SELECT COALESCE(sum(cnt), 0) FROM hist
                     WHERE level >= ts.t) AS tail
          FROM ts
        ),
        thr AS (SELECT CAST(min(t) AS INT) AS t FROM tails
                WHERE tail <= {RS_CAPACITY}),
        n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
        kept AS (SELECT v FROM items, thr WHERE level >= thr.t),
        nk AS (SELECT CAST(count(*) AS BIGINT) AS n_kept FROM kept),
        cum AS (
          SELECT v,
                 CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS ck
          FROM (SELECT v, CAST(count(*) AS BIGINT) AS c
                FROM kept GROUP BY v)
        ),
        qsel AS (
          SELECT 'p50' AS quantile, 1 AS num, 2 AS den
          UNION ALL SELECT 'p90', 9, 10
          UNION ALL SELECT 'p99', 99, 100
        ),
        est AS (
          SELECT q.quantile,
                 min(c.v) FILTER (c.ck * q.den >= nk.n_kept * q.num)
                   AS est_value,
                 min((n.n * c.ck) // nk.n_kept)
                   FILTER (c.ck * q.den >= nk.n_kept * q.num)
                   AS est_rank
          FROM qsel q, cum c, n, nk
          GROUP BY q.quantile
        )
        SELECT e.quantile, e.est_value, e.est_rank,
               n.n AS n_total, thr.t AS threshold_level, nk.n_kept,
               (SELECT CAST(count(value) AS BIGINT) FROM events ev
                WHERE ev.value <= e.est_value) AS true_rank
        FROM est e, n, thr, nk
    """


DQS_CAPACITY = 16  # per-source survivor capacity (forces sampling at sf0.01)


def q_domain_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DOMAIN quantile thresholds on an UNBOUNDED score — the
    grouped rank sketch closing the gap `domain_quantile_filter`'s
    exact histogram leaves (that query needs scores in a bounded
    integer range; this one estimates each source's p90 document-length
    threshold in O(groups × capacity) state). Per-source capacity is
    deliberately small (16) so the hash-level sampling is genuinely
    exercised at sf0.01 (25 docs/source → per-source T ≥ 1), and
    ``true_rank`` audits each estimate against the exact per-source
    rank — the `countmin_estimate` instrumentation pattern.

    Scale shape: corpus-side cost is ONE (source, level) partial-
    aggregated histogram + the survivor filter against broadcast
    per-source thresholds; grid/rank/pick frames are all
    groups×capacity-bounded. Core in `operators/sketch.py`
    (`rank_sketch_group_quantile`).

    PLAIN load, not load_spread (r19 optimization round): both sketch
    passes read only (source, n_chars, doc_id) — three narrow columns —
    so the md5-per-row work is tiny and the spread exchange was
    measured a net LOSS (interleaved A/B: plain 0.76-0.89 s vs spread
    1.02-1.21 s). Contrast quantile_sketch_estimate, whose events-table
    passes are 10× the rows and keep the spread."""
    d = load(spark, sf_dir, "documents")
    est = rank_sketch_group_quantile(
        d,
        col("source"),
        col("n_chars").cast("long"),
        col("doc_id"),
        capacity=DQS_CAPACITY,
        num=9,
        den=10,
    ).withColumnRenamed("g", "source")
    tr = (
        est.select("source", "est_value")
        .join(
            d.select("source", col("n_chars").cast("long").alias("nc")),
            "source",
        )
        .where(col("nc") <= col("est_value"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("true_rank"))
    )
    return est.join(F.broadcast(tr), "source")


def _domain_quantile_sketch_oracle() -> str:
    return f"""
        WITH items AS (
          SELECT g, v,
                 CASE WHEN h = 0 THEN {RS_HBITS}
                      ELSE {RS_HBITS} - length(bin(h)) END AS level
          FROM (
            SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
                   CAST(concat('0x',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS h
            FROM documents)
        ),
        hist AS (
          SELECT g, level, CAST(count(*) AS BIGINT) AS cnt
          FROM items GROUP BY 1, 2
        ),
        grid AS (
          SELECT g, t
          FROM (SELECT DISTINCT g FROM hist)
          CROSS JOIN (SELECT unnest(generate_series(0, {RS_HBITS + 1}))
                      AS t)
        ),
        tails AS (
          SELECT grid.g, grid.t,
                 COALESCE((SELECT sum(cnt) FROM hist
                           WHERE hist.g = grid.g
                             AND hist.level >= grid.t), 0) AS tail
          FROM grid
        ),
        thr AS (SELECT g, CAST(min(t) AS INT) AS t FROM tails
                WHERE tail <= {DQS_CAPACITY} GROUP BY g),
        n AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n
              FROM hist GROUP BY g),
        kept AS (SELECT i.g, i.v FROM items i
                 JOIN thr ON thr.g = i.g AND i.level >= thr.t),
        nk AS (SELECT g, CAST(count(*) AS BIGINT) AS n_kept
               FROM kept GROUP BY g),
        cum AS (
          SELECT g, v,
                 CAST(sum(c) OVER (PARTITION BY g ORDER BY v
                                   ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS ck
          FROM (SELECT g, v, CAST(count(*) AS BIGINT) AS c
                FROM kept GROUP BY g, v)
        ),
        pick AS (
          SELECT c.g,
                 min(c.v) FILTER (c.ck * 10 >= nk.n_kept * 9)
                   AS est_value,
                 min((n.n * c.ck) // nk.n_kept)
                   FILTER (c.ck * 10 >= nk.n_kept * 9) AS est_rank
          FROM cum c JOIN nk USING (g) JOIN n USING (g)
          GROUP BY c.g
        )
        SELECT p.g AS source, p.est_value, p.est_rank,
               n.n AS n_total, thr.t AS threshold_level, nk.n_kept,
               (SELECT CAST(count(*) AS BIGINT) FROM documents d2
                WHERE d2.source = p.g
                  AND CAST(d2.n_chars AS BIGINT) <= p.est_value)
                 AS true_rank
        FROM pick p JOIN n USING (g) JOIN thr USING (g)
             JOIN nk USING (g)
    """


def q_domain_reweight_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE domain-reweighting step — the mixture-optimization update
    the DoReMi recipe (Xie et al. 2023, Algorithm 1) runs per round:
    each domain's weight moves multiplicatively with its excess signal,
    then the weights renormalize into a sampling distribution. The
    exponential tilt is LINEARIZED (score = 1000 + excess‰) because
    ``exp`` is not bit-portable across engines while integer
    multiply/divide is exact — the engine-determinism discipline every
    sampling row here follows. The excess signal is the per-source mean
    token count relative to the corpus mean, in per-mille integer
    arithmetic (plug in per-domain excess LOSS from the proxy/reference
    models in production). Output: one row per source with its doc
    count, excess signal, and the renormalized ppm sampling weight.

    Scale shape: ONE partial-aggregated per-source (count, token-sum)
    rollup — bounded keys, map tasks emit ≤1 row per source — plus a
    broadcast 1-row corpus total; the update and renormalization run on
    the sources-sized frame. No corpus sort, no per-doc state."""
    scored = _reweight_scored(spark, sf_dir)
    z = scored.agg(F.sum("score").alias("z"))
    return (
        scored.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            col("excess_permille").cast("long").alias("excess_permille"),
            F.expr("(1000000 * score) div z").cast("long").alias(
                "weight_ppm"
            ),
        )
    )


def _reweight_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DoReMi signal frame (sources-sized, localCheckpointed):
    per-source doc count, the per-mille excess signal, and the
    linearized multiplicative score ``1000 + excess‰``. One
    partial-aggregated corpus rollup total — every consumer branch
    (the single-step update, each converge round, the normalizers)
    reads this bounded frame, never the corpus."""
    d = load(spark, sf_dir, "documents")
    per = d.select(
        "source", F.size(tx_tokens(col("text"))).cast("long").alias("nt")
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").alias("sum_tok"),
    ).localCheckpoint()
    tot = per.agg(
        F.sum("n_docs").alias("n_total"), F.sum("sum_tok").alias("tok_total")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn(
            "excess_permille",
            F.expr("(1000 * sum_tok * n_total) div (n_docs * tok_total)"),
        )
        .withColumn("score", F.lit(1000) + col("excess_permille"))
        .localCheckpoint()
    )


REWEIGHT_ROUNDS = 4  # k in the DoReMi loop (verdict r14 item 4: 3-4)
REWEIGHT_EPS = 200  # per-mille uniform-smoothing mix (DoReMi's ε·u term)


def q_domain_reweight_converge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The DoReMi reweighting LOOP (Xie et al. 2023, Algorithm 1) —
    ``REWEIGHT_ROUNDS`` composed updates of the single-step row
    ``domain_reweight_step``, pinning the fixed-point behavior rather
    than one iteration: each round tilts the weights multiplicatively
    by the (static, linearized) per-source excess score, renormalizes
    to ppm, then mixes ε of the uniform distribution back in
    (``w ← ((1000−ε)·norm(w·score) + ε·u) / 1000`` in per-mille /
    ppm INTEGER arithmetic throughout, so DuckDB replays the identical
    trajectory — the floor-division residue genuinely compounds across
    rounds, which is exactly what the registry pins; with ε > 0 the
    iteration contracts toward the tilted-mixture fixed point instead
    of the argmax corner).

    Scale shape: the corpus is touched ONCE (the shared
    ``_reweight_scored`` rollup); every round is arithmetic on the
    sources-sized weight frame, localCheckpointed so round t+1 reads
    round t's ≤|sources| rows instead of re-deriving the whole chain
    (the r14 rank-sketch lesson). No corpus sort, no per-doc state,
    no driver-side loop over data — the loop is over PLAN-building
    only, k bounded."""
    scored = _reweight_scored(spark, sf_dir)
    ns = scored.agg(F.count(F.lit(1)).cast("long").alias("ns"))
    # state: (source, n_docs, excess_permille, score, ns, w) — bounded
    w = (
        scored.crossJoin(F.broadcast(ns))
        .withColumn("w", F.expr("1000000 div ns"))
        .localCheckpoint()
    )
    for _ in range(REWEIGHT_ROUNDS):
        tilted = w.withColumn("t", col("w") * col("score"))
        z = tilted.agg(F.sum("t").alias("z"))
        w = (
            tilted.crossJoin(F.broadcast(z))
            .withColumn(
                "w",
                F.expr(
                    f"(({1000 - REWEIGHT_EPS} * ((1000000 * t) div z))"
                    f" + {REWEIGHT_EPS} * (1000000 div ns)) div 1000"
                ),
            )
            .drop("t", "z")
            .localCheckpoint()
        )
    return w.select(
        "source",
        "n_docs",
        col("excess_permille").cast("long").alias("excess_permille"),
        col("w").cast("long").alias("weight_ppm"),
        F.lit(REWEIGHT_ROUNDS).cast("int").alias("rounds"),
    )


def _domain_reweight_oracle() -> str:
    return f"""
        WITH per AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len({_SEL_TOKENS})) AS BIGINT) AS sum_tok
          FROM documents GROUP BY source
        ),
        tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
                 CAST(sum(sum_tok) AS BIGINT) AS tok_total
          FROM per
        ),
        scored AS (
          SELECT source, n_docs,
                 (1000 * sum_tok * n_total) // (n_docs * tok_total)
                   AS excess_permille
          FROM per, tot
        ),
        z AS (SELECT sum(1000 + excess_permille) AS z FROM scored)
        SELECT source, n_docs,
               CAST(excess_permille AS BIGINT) AS excess_permille,
               CAST((1000000 * (1000 + excess_permille)) // z.z AS BIGINT)
                 AS weight_ppm
        FROM scored, z
    """


def _domain_reweight_converge_oracle() -> str:
    """Replays the identical k-round integer trajectory: tilt by the
    static score, renormalize to ppm with floor division, ε-mix the
    uniform — unrolled CTEs, one (t, z, w) triple per round."""
    eps = REWEIGHT_EPS
    rounds = []
    for i in range(1, REWEIGHT_ROUNDS + 1):
        rounds.append(f"""
        t{i} AS (SELECT s.source, w{i - 1}.w * s.score AS t
                 FROM scored s JOIN w{i - 1} USING (source)),
        z{i} AS (SELECT CAST(sum(t) AS BIGINT) AS z FROM t{i}),
        w{i} AS (SELECT t{i}.source,
                        (({1000 - eps} * ((1000000 * t{i}.t) // z{i}.z))
                         + {eps} * (1000000 // ns.ns)) // 1000 AS w
                 FROM t{i}, z{i}, ns)""")
    return f"""
        WITH per AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len({_SEL_TOKENS})) AS BIGINT) AS sum_tok
          FROM documents GROUP BY source
        ),
        tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
                 CAST(sum(sum_tok) AS BIGINT) AS tok_total
          FROM per
        ),
        scored AS (
          SELECT source, n_docs,
                 (1000 * sum_tok * n_total) // (n_docs * tok_total)
                   AS excess_permille,
                 1000 + (1000 * sum_tok * n_total) // (n_docs * tok_total)
                   AS score
          FROM per, tot
        ),
        ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM scored),
        w0 AS (SELECT source, 1000000 // ns.ns AS w FROM scored, ns),
        {",".join(rounds)}
        SELECT s.source, s.n_docs,
               CAST(s.excess_permille AS BIGINT) AS excess_permille,
               CAST(wk.w AS BIGINT) AS weight_ppm,
               CAST({REWEIGHT_ROUNDS} AS INTEGER) AS rounds
        FROM scored s JOIN w{REWEIGHT_ROUNDS} wk USING (source)
    """


QUERIES = {
    "edit_distance_neardup": q_edit_distance_neardup,
    "dsir_importance": q_dsir_importance,
    "bm25_topk": q_bm25_topk,
    "minhash_est_error": q_minhash_est_error,
    "percentile_agg": q_percentile_agg,
    "scd2_intervals": q_scd2_intervals,
    "lm_perplexity_filter": q_lm_perplexity_filter,
    "unimax_sample": q_unimax_sample,
    "bpe_merge_candidates": q_bpe_merge_candidates,
    "bm25_inverted_topk": q_bm25_inverted_topk,
    "mrl_recall_at_k": q_mrl_recall_at_k,
    "classifier_train_steps": q_classifier_train_steps,
    "dup_span_removal": q_dup_span_removal,
    "video_meta": q_video_meta,
    "hybrid_rrf_topk": q_hybrid_rrf_topk,
    "bsq_hamming_search": q_bsq_hamming_search,
    "countmin_estimate": q_countmin_estimate,
    "resample_ffill": q_resample_ffill,
    "chunk_sliding": q_chunk_sliding,
    "temperature_sample": q_temperature_sample,
    "bloom_dedup": q_bloom_dedup,
    "pagerank_weights": q_pagerank_weights,
    "containment_neardup": q_containment_neardup,
    "shard_assignment": q_shard_assignment,
    "vocab_coverage": q_vocab_coverage,
    "dup_line_removal": q_dup_line_removal,
    "source_quota_sample": q_source_quota_sample,
    "domain_quantile_filter": q_domain_quantile_filter,
    "weighted_sample_topk": q_weighted_sample_topk,
    "hll_distinct_estimate": q_hll_distinct_estimate,
    "bpe_train_merges": q_bpe_train_merges,
    "source_drift_chi2": q_source_drift_chi2,
    "quantile_sketch_estimate": q_quantile_sketch_estimate,
    "bpe_train_encode": q_bpe_train_encode,
    "domain_quantile_sketch": q_domain_quantile_sketch,
    "domain_reweight_step": q_domain_reweight_step,
    "domain_reweight_converge": q_domain_reweight_converge,
}

ORACLE = {
    "edit_distance_neardup": _edit_distance_oracle(),
    "dsir_importance": _dsir_oracle(),
    "bm25_topk": _bm25_oracle(),
    "minhash_est_error": _minhash_est_oracle(),
    "percentile_agg": _percentile_oracle(),
    "scd2_intervals": _scd2_oracle(),
    "lm_perplexity_filter": _lm_perplexity_oracle(),
    "unimax_sample": _unimax_oracle(),
    "bpe_merge_candidates": _bpe_merge_oracle(),
    "bm25_inverted_topk": _bm25_inverted_oracle(),
    "mrl_recall_at_k": _mrl_recall_oracle(),
    "classifier_train_steps": _classifier_train_oracle(),
    "dup_span_removal": _dup_span_removal_oracle(),
    "video_meta": _video_meta_oracle(),
    "hybrid_rrf_topk": _hybrid_rrf_oracle(),
    "bsq_hamming_search": _bsq_oracle(),
    "countmin_estimate": _countmin_oracle(),
    "resample_ffill": _resample_ffill_oracle(),
    "chunk_sliding": _chunk_sliding_oracle(),
    "temperature_sample": _temperature_oracle(),
    "bloom_dedup": _bloom_oracle(),
    "pagerank_weights": _pagerank_oracle(),
    "containment_neardup": _containment_oracle(),
    "shard_assignment": _shard_oracle(),
    "vocab_coverage": _vocab_coverage_oracle(),
    "dup_line_removal": _dup_line_oracle(),
    "source_quota_sample": _source_quota_oracle(),
    "domain_quantile_filter": _domain_quantile_oracle(),
    "weighted_sample_topk": _weighted_sample_oracle(),
    "hll_distinct_estimate": _hll_oracle(),
    "bpe_train_merges": _bpe_train_oracle(BPE_TRAIN_ROUNDS),
    "source_drift_chi2": _source_drift_oracle(),
    "quantile_sketch_estimate": _quantile_sketch_oracle(),
    "bpe_train_encode": _bpe_train_encode_oracle(BPE_TRAIN_ROUNDS),
    "domain_quantile_sketch": _domain_quantile_sketch_oracle(),
    "domain_reweight_step": _domain_reweight_oracle(),
    "domain_reweight_converge": _domain_reweight_converge_oracle(),
}


# --------------------------------------------------------------------------
# NEW round-19 (r18 verdict item 7): the two pipeline staples the
# registry circled (rank sketch, quotas) but never named as driver
# rows — the NATIVE mergeable grouped percentile and a per-stratum
# deterministic reservoir sample.
# --------------------------------------------------------------------------

GPA_PS = (0.25, 0.5, 0.75, 0.95)
# relative rank error = 1/accuracy; 1e6 keeps it below 1/(2n) at every
# test SF, where the sketch's answer is EXACTLY the discrete-quantile
# element — which is the oracle contract (DuckDB quantile_disc;
# convention match verified empirically across the p grid, n=7/10 and
# the real events table)
GPA_ACCURACY = 1_000_000


def q_grouped_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped quantiles via Spark's NATIVE mergeable percentile
    sketch (``percentile_approx`` = Greenwald-Khanna QuantileSummaries
    as an ImperativeAggregate): each map task folds its rows into an
    O((1/ε)·log(εn)) summary, the exchange moves SKETCHES (one per
    group per task), and merge happens reduce-side — the third point
    on the registry's quantile spectrum: ``percentile_agg`` is exact
    but buffers whole groups, ``quantile_sketch_estimate`` is a custom
    bottom-k sampler, this row is the built-in production form a user
    actually reaches for first. At 100 TB accuracy is the dial —
    state is INDEPENDENT of group size, so a trillion-row group costs
    the same exchange bytes as a million-row one; at test SF the
    chosen accuracy makes rank error < 1/(2n), i.e. the sketch
    degenerates to the exact discrete quantile, giving a zero-slack
    DuckDB ``quantile_disc`` oracle. One partial-agg shuffle keyed on
    the group column; no second pass, no window."""
    ev = load(spark, sf_dir, "events")
    aggs = [
        F.percentile_approx(
            "value", F.lit(p), F.lit(GPA_ACCURACY)
        ).alias(f"value_p{int(p * 100)}")
        for p in GPA_PS
    ]
    return ev.groupBy("event_type").agg(
        *aggs, F.count(F.lit(1)).cast("long").alias("n_rows")
    )


def _grouped_percentile_approx_oracle() -> str:
    cols = ",\n               ".join(
        f"quantile_disc(value, {repr(p)}) AS value_p{int(p * 100)}"
        for p in GPA_PS
    )
    return f"""
        SELECT event_type,
               {cols},
               CAST(count(*) AS BIGINT) AS n_rows
        FROM events GROUP BY event_type
    """


STRAT_K = 50  # reservoir size per stratum
STRAT_SALTS = 8  # phase-1 parallelism per stratum


def q_stratified_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum DETERMINISTIC reservoir sample: the k rows with the
    smallest md5(unique key) per stratum — Vitter's Algorithm R with
    the randomness replaced by a hash order, the standard
    reproducible-pipeline variant (same sample across runs, engines,
    and partitionings; ``weighted_sample_topk``'s unweighted
    stratified sibling; pipeline.py's rate-based ``stratified_sample``
    draws a Bernoulli FRACTION per stratum, this row draws an exact
    fixed SIZE k per stratum). The top-k decomposes EXACTLY over salt
    cells — a stratum's k smallest hashes are each among the k
    smallest of their own salt cell — so phase 1 ranks (stratum ×
    salt) cells S-way parallel and keeps ≤ k per cell, phase 2
    re-ranks the ≤ S·k survivors per stratum. Scale accounting, plan-
    verified: Spark's rank-limit pushdown (WindowGroupLimit, the
    ``row_number() <= k`` filter rewrite) already caps each map task's
    contribution at k per window group, so even a naive single window
    shuffles only ≤ P·k rows per stratum (P = upstream partitions) —
    the salt phase's marginal win is tightening the final one-reducer
    sort from P·k (P ≈ 10⁵ at 100 TB) to a constant S·k, keeping the
    last rank O(k) regardless of cluster width. Core is the shared
    ``operators/scale.salted_grouped_topk`` (hypothesis-tested against
    the single-window reference on arbitrary frames). Output: the
    sampled rows with their in-stratum rank."""
    from interop_spark.operators.scale import salted_grouped_topk

    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id"
    )
    h = F.md5(col("event_id").cast("string"))
    return salted_grouped_topk(
        ev.select("*", h.alias("_h")),
        ["event_type"],
        "_h",
        STRAT_K,
        F.pmod(col("event_id"), F.lit(STRAT_SALTS)),
        STRAT_SALTS,
    ).select("event_type", "event_id", "user_id", "rk")


def _stratified_reservoir_oracle() -> str:
    return f"""
        WITH ranked AS (
          SELECT event_type, event_id, user_id,
                 row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR))
                 ) AS rk
          FROM events
        )
        SELECT event_type, event_id, user_id, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= {STRAT_K}
    """


QUERIES["grouped_percentile_approx"] = q_grouped_percentile_approx
QUERIES["stratified_reservoir"] = q_stratified_reservoir
ORACLE["grouped_percentile_approx"] = _grouped_percentile_approx_oracle()
ORACLE["stratified_reservoir"] = _stratified_reservoir_oracle()
