"""Corpus-analytics extensions.

Oracle-backed driver rows (four r15b originals, then the r16
additions ``mmr_rerank`` / ``stream_theta_distinct`` /
``stream_cms_topk`` / ``unicode_normalize_stats`` registered at the
bottom of the module):

- ``theta_sketch_setops`` — KMV/theta distinct sketch with UNION and
  INTERSECTION estimates over source-pair shingle vocabularies
  (Bar-Yossef et al. 2002; the set-operation algebra HLL registers
  cannot express), next to the exact counts as the quality audit.
- ``heavy_hitter_tokens`` — Count-Min frequent-items detection
  (Cormode & Muthukrishnan 2005): probe the FULL vocabulary against
  the sketch, keep candidates whose estimate clears phi*N, verify
  against exact counts. CMS overestimates only, so the candidate set
  provably contains every true heavy hitter; the false positives the
  narrow sketch admits are the pinned quality signal.
- ``cooccurrence_topk`` — document-level token co-occurrence counts
  with an integer lift score (the PMI-precursor statistics a
  word-embedding / phrase-mining pipeline aggregates corpus-wide).
- ``int4_roundtrip`` — blockwise int4 scalar-quantization fidelity
  (`operators/quantize.py`), the 8x compression rung below
  ``sq8_roundtrip``.
"""

from __future__ import annotations

import pandas as pd  # module-level so the pandas_udf's stringified
# type hints ('pd.Series', via the future-annotations import) resolve
# against module globals when PySpark infers the eval type

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from interop_spark.io import load, load_spread
from interop_spark.operators import dedup as dd
from interop_spark.operators.kernels import forget_zip_finders
from interop_spark.operators.sketch import panel_df
from interop_spark.operators.text import tokens as tx_tokens
from interop_spark.operators.theta import (
    THETA_K,
    THETA_MAXH,
    theta_items,
    theta_sketch,
)

_TOKS = "string_split_regex(trim(text), '\\s+')"

# theta sketch: fixed source panel (exists at every SF fixture), 3-word
# shingle keys — the 31-word token vocabulary saturates a k=64 sketch,
# shingle vocabularies (~1.2-1.5k per source at sf0.01) exercise it.
THETA_SOURCES = ("src0", "src1", "src2", "src3")
THETA_SHINGLE_N = 3

# heavy hitters: depth 3 x width 8 is deliberately NARROW against the
# 31-word vocabulary so collisions are real and the candidate set
# admits visible false positives; phi = 1/30 lands inside the fixture's
# near-uniform frequency band so the true/false split is data-driven.
HH_DEPTH = 3
HH_WIDTH = 8
HH_PHI_DEN = 30

COOC_TOPK = 50


# --------------------------------------------------------------------------
# Theta / KMV sketch set operations
# --------------------------------------------------------------------------

def q_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair vocabulary overlap via theta sketches: per source in
    the fixed panel, the k={THETA_K} minimum md5 hashes of its distinct
    3-word shingles form the sketch; per pair, union/intersection
    estimates come from the coordinated sample under
    min(theta_a, theta_b) with the all-integer ``(cnt * 2^32) div
    theta`` estimator. Exact counts ride along as the audit (the
    ``ivf_recall_at_k`` instrumentation pattern — a sketch-quality
    regression must not stay green).

    Scale shape: corpus-side cost is one distinct shingle projection +
    the <=33-key level-histogram prefilter; the bottom-k sort runs on
    the ~2k-row survivor frame per source, and ALL pair algebra runs on
    k-bounded broadcast frames. The exact audit is the only
    vocabulary-sized join and exists purely as the yardstick."""
    # load_spread: the shingle+md5 distinct pass is the query's only
    # corpus-sized CPU stage
    d = load_spread(spark, sf_dir, "documents").where(
        col("source").isin(*THETA_SOURCES)
    )
    sh = d.select(
        col("source"),
        F.explode(
            dd.word_shingles(col("text"), THETA_SHINGLE_N)
        ).alias("k"),
    )
    # the distinct-shingle frame feeds the sketch (histogram + survivor
    # passes) AND the exact audit — localCheckpoint it once, coalesced
    # to the executor parallelism so downstream scans of the
    # vocabulary-bounded frame don't inherit the distinct's full
    # shuffle-partition fan-out; released once the two collects return
    items = (
        theta_items(sh, col("source"), col("k"))
        .coalesce(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    kept, _theta = theta_sketch(items, k=THETA_K)

    # ---- driver-side pair algebra over k-bounded state (r19 opt) ----
    # `theta_pair_setops` (operators/theta.py, unchanged, still pinned
    # by its own tests) is the mergeable-state frame contract; THIS
    # query's panel is len(THETA_SOURCES) x k=64, so `kept` is <= 384
    # rows — bounded driver state per the PQ-codebook precedent.
    # Profiling showed the frame algebra made the query DRIVER-bound
    # (job sum ~1.6 s vs 3.3 s wall: ~20 AQE-materialized bounded
    # stages plus their plan construction). Collecting the sketch once
    # and doing the INTEGER pair algebra in Python removes all of it;
    # every run still computes the sketch from the parquet corpus, and
    # the arithmetic below mirrors the operator term for term
    # (Python // == Spark `div` on the non-negative integers here).
    kept_sel = kept.select("g", "k", "h", "rn")

    # exact audit in ONE aggregation (was two: per-source counts +
    # per-pair intersections — the fused explode emits a (g, g) single
    # per membership and a (ga, gb) struct per in-set pair, so one
    # groupBy serves both and `grpsets` is referenced once — its
    # checkpoint job is dropped too). Output is
    # |sources| + |pairs| <= 21 rows: bounded, collected.
    grpsets = items.groupBy("k").agg(
        F.sort_array(F.collect_set("g")).alias("gs")
    )
    singles = F.transform(
        col("gs"), lambda x: F.struct(x.alias("a"), x.alias("b"))
    )
    prs = F.filter(
        F.flatten(
            F.transform(
                col("gs"),
                lambda a: F.transform(
                    col("gs"), lambda b: F.struct(a.alias("a"), b.alias("b"))
                ),
            )
        ),
        lambda s: s["a"] < s["b"],
    )
    audit_df = (
        grpsets.select(F.explode(F.concat(singles, prs)).alias("pr"))
        .groupBy(col("pr.a").alias("a"), col("pr.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # the sketch collect and the audit collect are INDEPENDENT bounded
    # jobs over the checkpointed items frame — overlap them (the
    # fhir/write.py thread-pool precedent) so one job's tail back-fills
    # the other's ramp-up
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    try:
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_k = pool.submit(inherit(kept_sel.collect))
            f_a = pool.submit(inherit(audit_df.collect))
            krows, audit = f_k.result(), f_a.result()
    finally:
        # a checkpointed frame has no release call of its own: unpersist
        # the checkpointed RDD under its plan. persist()/unpersist()
        # releases it too, but ran 2 more jobs and 8 more stages per
        # call (sf0.001, local[3]).
        items._jdf.queryExecution().analyzed().rdd().unpersist(False)
    kept_by_g: dict = {}
    theta_by_g: dict = {}
    for r in krows:
        kept_by_g.setdefault(r.g, {})[r.k] = r.h
        if r.rn == THETA_K:
            theta_by_g[r.g] = r.h
    for g in kept_by_g:
        theta_by_g.setdefault(g, THETA_MAXH)
    ca = {r.a: r.c for r in audit if r.a == r.b}
    inter_exact = {(r.a, r.b): r.c for r in audit if r.a < r.b}

    # pair panel: sources PRESENT in the sketch, ordered — the same set
    # the old inner joins (pairs >< theta_a >< theta_b >< cnts) kept
    present = sorted(set(ca) & set(kept_by_g))
    out_rows = []
    for i, a in enumerate(present):
        for b in present[i + 1 :]:
            t_ab = min(theta_by_g[a], theta_by_g[b])
            sa_keys = {k2 for k2, h in kept_by_g[a].items() if h < t_ab}
            sb_keys = {k2 for k2, h in kept_by_g[b].items() if h < t_ab}
            i_cnt = len(sa_keys & sb_keys)  # h = f(k): same cut both sides
            union_est = (
                (len(sa_keys) + len(sb_keys) - i_cnt) * THETA_MAXH
            ) // t_ab
            inter_est = (i_cnt * THETA_MAXH) // t_ab
            ie = inter_exact.get((a, b), 0)
            ue = ca[a] + ca[b] - ie
            out_rows.append(
                (
                    a,
                    b,
                    t_ab,
                    union_est,
                    ue,
                    inter_est,
                    ie,
                    (inter_est * 1000000) // union_est if union_est else None,
                    (ie * 1000000) // ue if ue else None,
                )
            )

    cols = (
        "source_a",
        "source_b",
        "theta_ab",
        "union_est",
        "union_exact",
        "inter_est",
        "inter_exact",
        "jaccard_est_ppm",
        "jaccard_exact_ppm",
    )
    if not out_rows:  # defensive: degenerate corpus, schema-matched empty
        return spark.range(0).select(
            F.lit("").alias(cols[0]),
            F.lit("").alias(cols[1]),
            *[F.lit(None).cast("long").alias(c) for c in cols[2:]],
        )
    # one expr parse (sketch.panel_df); the panel is one partition, so
    # the sort needs no range exchange
    fields = [(c, "string") for c in cols[:2]]
    fields += [(c, "bigint") for c in cols[2:]]
    return panel_df(spark, out_rows, fields).orderBy("source_a", "source_b")


def _theta_oracle() -> str:
    srcs = ", ".join(f"'{s}'" for s in THETA_SOURCES)
    n = THETA_SHINGLE_N
    shingles = (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({_TOKS}) - {n - 1}, 1)),"
        f" i -> array_to_string(({_TOKS})[i:i+{n - 1}], ' ')))"
    )
    return f"""
        WITH items AS (
          SELECT DISTINCT g, k FROM (
            SELECT source AS g, unnest({shingles}) AS k
            FROM documents WHERE source IN ({srcs})
          )
        ),
        h AS (
          SELECT g, k,
                 CAST(concat('0x', substr(md5(k), 1, 8)) AS BIGINT) AS h
          FROM items
        ),
        r AS (
          SELECT g, k, h,
                 row_number() OVER (PARTITION BY g ORDER BY h, k) AS rn
          FROM h
        ),
        kept AS (SELECT * FROM r WHERE rn <= {THETA_K}),
        theta AS (
          SELECT g,
                 coalesce(max(CASE WHEN rn = {THETA_K} THEN h END),
                          {THETA_MAXH}) AS theta
          FROM kept GROUP BY g
        ),
        pairs AS (
          SELECT a.g AS ga, b.g AS gb,
                 least(a.theta, b.theta) AS theta_ab
          FROM theta a JOIN theta b ON a.g < b.g
        ),
        u AS (
          SELECT ga, gb, theta_ab, count(DISTINCT k) AS u_cnt FROM (
            SELECT p.ga, p.gb, p.theta_ab, s.k, s.h
            FROM pairs p JOIN kept s ON s.g = p.ga
            UNION ALL
            SELECT p.ga, p.gb, p.theta_ab, s.k, s.h
            FROM pairs p JOIN kept s ON s.g = p.gb
          ) WHERE h < theta_ab GROUP BY 1, 2, 3
        ),
        i AS (
          SELECT p.ga, p.gb, count(*) AS i_cnt
          FROM pairs p
          JOIN kept a ON a.g = p.ga
          JOIN kept b ON b.g = p.gb AND b.k = a.k
          WHERE a.h < p.theta_ab
          GROUP BY 1, 2
        ),
        exi AS (
          SELECT a.g AS ga, b.g AS gb, CAST(count(*) AS BIGINT) AS ix
          FROM items a JOIN items b ON a.k = b.k AND a.g < b.g
          GROUP BY 1, 2
        ),
        cnts AS (SELECT g, count(*) AS c FROM items GROUP BY g)
        SELECT u.ga AS source_a, u.gb AS source_b,
               CAST(u.theta_ab AS BIGINT) AS theta_ab,
               CAST((u.u_cnt * {THETA_MAXH}) // u.theta_ab AS BIGINT)
                 AS union_est,
               CAST(ca.c + cb.c - coalesce(exi.ix, 0) AS BIGINT)
                 AS union_exact,
               CAST((coalesce(i.i_cnt, 0) * {THETA_MAXH}) // u.theta_ab
                    AS BIGINT) AS inter_est,
               CAST(coalesce(exi.ix, 0) AS BIGINT) AS inter_exact,
               CAST(((coalesce(i.i_cnt, 0) * {THETA_MAXH}) // u.theta_ab
                     * 1000000)
                    // ((u.u_cnt * {THETA_MAXH}) // u.theta_ab)
                    AS BIGINT) AS jaccard_est_ppm,
               CAST((coalesce(exi.ix, 0) * 1000000)
                    // (ca.c + cb.c - coalesce(exi.ix, 0))
                    AS BIGINT) AS jaccard_exact_ppm
        FROM u
        LEFT JOIN i ON i.ga = u.ga AND i.gb = u.gb
        LEFT JOIN exi ON exi.ga = u.ga AND exi.gb = u.gb
        JOIN cnts ca ON ca.g = u.ga
        JOIN cnts cb ON cb.g = u.gb
        ORDER BY source_a, source_b
    """


# --------------------------------------------------------------------------
# Count-Min heavy hitters
# --------------------------------------------------------------------------

def _cms_bucket(j_expr, tok_col):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(j_expr.cast("string"), F.lit("|"), tok_col)),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % HH_WIDTH
    )


def q_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items detection over the token stream: build a
    depth-{HH_DEPTH} x width-{HH_WIDTH} Count-Min sketch, probe EVERY
    distinct token, and keep candidates whose estimate clears
    N/{HH_PHI_DEN}. CMS never underestimates, so every true heavy
    hitter is in the candidate set by construction; ``is_true_hh``
    (the exact-count verdict) exposes the false positives the narrow
    width admits — the detection-quality contract this row pins.

    Scale shape: ONE tokenize pass ends in a partial-aggregated
    per-token count (the map-side combine collapses each task to its
    distinct tokens before the only corpus-keyed exchange); the
    vocabulary-bounded count frame is localCheckpoint-ed and EVERY
    downstream quantity — sketch cells (counts sum into (j, b) cells
    exactly as raw rows would), probe estimates, the total-N threshold,
    and the exact audit — derives from it. (Pre-r19 the sketch, probe,
    exact and total branches each re-derived the tokenize explode:
    four corpus scans for one query; the r19 optimization round
    collapsed them onto the single counted pass — identical output.)
    No vocabulary-sized sort, no driver collect."""
    d = load_spread(spark, sf_dir, "documents")
    toks = d.select(F.explode(tx_tokens(col("text"))).alias("w")).where(
        col("w") != ""
    )
    counts = (
        toks.groupBy(col("w").alias("token"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .localCheckpoint()
    )
    exact = counts
    rows = counts.select(
        "token",
        "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(HH_DEPTH - 1))).alias("j"),
    )
    sketch = (
        rows.withColumn("b", _cms_bucket(col("j"), col("token")))
        .groupBy("j", "b")
        .agg(F.sum("exact_cnt").cast("long").alias("cnt"))
    )
    probes = counts.select("token").select(
        "token",
        F.explode(F.sequence(F.lit(0), F.lit(HH_DEPTH - 1))).alias("j"),
    ).withColumn("b", _cms_bucket(col("j"), col("token")))
    est = (
        probes.join(F.broadcast(sketch), ["j", "b"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(col("cnt"), F.lit(0))).alias("cms_est"))
    )
    n = counts.agg(F.sum("exact_cnt").cast("long").alias("n"))
    return (
        est.crossJoin(F.broadcast(n))
        .where(col("cms_est") * HH_PHI_DEN >= col("n"))
        .join(exact, "token", "left")
        .select(
            "token",
            col("cms_est").cast("long").alias("cms_est"),
            F.coalesce(col("exact_cnt"), F.lit(0)).alias("exact_cnt"),
            (
                F.coalesce(col("exact_cnt"), F.lit(0)) * HH_PHI_DEN
                >= col("n")
            ).alias("is_true_hh"),
        )
        .orderBy("token")
    )


def _hh_oracle() -> str:
    bucket = (
        "CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), '|',"
        " {tok})), 1, 8)) AS BIGINT) % " + str(HH_WIDTH)
    )
    return f"""
        WITH t AS (
          SELECT w FROM (SELECT unnest({_TOKS}) AS w FROM documents)
          WHERE w <> ''
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
        exact AS (
          SELECT w AS token, CAST(count(*) AS BIGINT) AS exact_cnt
          FROM t GROUP BY w
        ),
        rows_ AS (
          SELECT w, j FROM t,
            unnest(generate_series(0, {HH_DEPTH - 1})) AS g(j)
        ),
        sketch AS (
          SELECT j, {bucket.format(tok='w')} AS b, count(*) AS cnt
          FROM rows_ GROUP BY 1, 2
        ),
        probes AS (
          SELECT token, j, {bucket.format(tok='token')} AS b
          FROM exact, unnest(generate_series(0, {HH_DEPTH - 1})) AS g(j)
        ),
        est AS (
          SELECT p.token,
                 CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS cms_est
          FROM probes p LEFT JOIN sketch s ON p.j = s.j AND p.b = s.b
          GROUP BY p.token
        )
        SELECT e.token, e.cms_est, x.exact_cnt,
               x.exact_cnt * {HH_PHI_DEN} >= n.n AS is_true_hh
        FROM est e JOIN exact x ON x.token = e.token CROSS JOIN n
        WHERE e.cms_est * {HH_PHI_DEN} >= n.n
        ORDER BY e.token
    """


# --------------------------------------------------------------------------
# Token co-occurrence
# --------------------------------------------------------------------------

def q_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level token co-occurrence — the count matrix a
    word-embedding / phrase-mining / PMI pipeline aggregates before any
    model sees the corpus. Per document, the DISTINCT token set
    self-joins under ``w1 < w2`` (presence co-occurrence); pair counts,
    per-token document frequencies, and the integer lift score
    ``(pair_n * n_docs * 1e6) div (df1 * df2)`` (monotone in PMI —
    no cross-engine log) rank the top-{COOC_TOPK} pairs.

    Scale shape: the self-join is keyed on doc_id, so the blowup is
    bounded by the per-doc DISTINCT vocabulary (quadratic in it — a
    production run caps it exactly as `minhash` caps shingles);
    downstream is one (w1, w2) partial-aggregated count, a broadcast of
    the vocabulary-bounded document-frequency frame, and a
    TakeOrderedAndProject boundary — no vocabulary-squared sort."""
    # checkpoint, PLAIN load: the distinct-token explode feeds the
    # self-join's BOTH sides and the document-frequency count — three
    # tokenize passes pre-r19, one materialized token-list read now
    # (r19 optimization round; the token list is smaller than the text
    # it came from). The scan spread was measured a net LOSS here
    # (interleaved A/B: plain 0.60-0.82 s vs spread 1.07-1.60 s) — the
    # distinct-token explode is cheap per row, so the round-robin
    # exchange of the text bytes never pays for itself
    d = load(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id", F.explode(F.array_distinct(tx_tokens(col("text")))).alias("w")
    ).where(col("w") != "").localCheckpoint()
    df_cnt = dt.groupBy(col("w").alias("token")).agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    pairs = (
        dt.alias("a")
        .join(
            dt.alias("b"),
            (col("a.doc_id") == col("b.doc_id")) & (col("a.w") < col("b.w")),
        )
        .groupBy(col("a.w").alias("w1"), col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("pair_n"))
    )
    return (
        pairs.join(
            F.broadcast(df_cnt.select(col("token").alias("w1"), col("df").alias("df1"))),
            "w1",
        )
        .join(
            F.broadcast(df_cnt.select(col("token").alias("w2"), col("df").alias("df2"))),
            "w2",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            "pair_n",
            "df1",
            "df2",
            F.expr("(pair_n * n_docs * 1000000) div (df1 * df2)")
            .cast("long")
            .alias("lift_ppm"),
        )
        .orderBy(col("pair_n").desc(), "w1", "w2")
        .limit(COOC_TOPK)
    )


def _cooc_oracle() -> str:
    return f"""
        WITH dt AS (
          SELECT DISTINCT doc_id, w FROM (
            SELECT doc_id, unnest({_TOKS}) AS w FROM documents
          ) WHERE w <> ''
        ),
        df_cnt AS (
          SELECT w AS token, CAST(count(*) AS BIGINT) AS df
          FROM dt GROUP BY w
        ),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        pairs AS (
          SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS pair_n
          FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.w < b.w
          GROUP BY 1, 2
        )
        SELECT w1, w2, pair_n, d1.df AS df1, d2.df AS df2,
               CAST((pair_n * n_docs * 1000000) // (d1.df * d2.df)
                    AS BIGINT) AS lift_ppm
        FROM pairs
        JOIN df_cnt d1 ON d1.token = w1
        JOIN df_cnt d2 ON d2.token = w2
        CROSS JOIN nd
        ORDER BY pair_n DESC, w1, w2
        LIMIT {COOC_TOPK}
    """


# --------------------------------------------------------------------------
# Blockwise int4 quantization fidelity
# --------------------------------------------------------------------------

INT4_BLOCK = 8


def q_int4_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blockwise int4 quantization fidelity: encode → decode every
    embedding (8 blocks of 8 dims, per-block min/scale) and report max
    reconstruction error + cosine similarity against the original —
    ``sq8_roundtrip``'s 8x-compression sibling; blockwise scaling is
    what keeps 4-bit codes usable. One scan, no shuffle, pure HOF
    codegen."""
    from interop_spark.operators.quantize import int4_decode, int4_encode
    from interop_spark.operators.similarity import as_double, cosine_sim

    e = load(spark, sf_dir, "embeddings")
    # two projections: the encoded struct array materializes as a
    # column attribute in the first, so the two metric expressions in
    # the second decode a CONCRETE value instead of each re-expanding
    # the whole encode tree (CollapseProject declines to merge because
    # the producer expression is expensive and referenced twice)
    enc_df = e.select(
        "vec_id",
        as_double(col("embedding")).alias("x"),
        int4_encode(col("embedding"), block=INT4_BLOCK).alias("enc"),
    )
    xp = int4_decode(col("enc"))
    return enc_df.select(
        "vec_id",
        F.round(
            F.array_max(
                F.zip_with(col("x"), xp, lambda a, b: F.abs(a - b))
            ),
            9,
        ).alias("max_abs_err"),
        F.round(cosine_sim(col("x"), xp), 9).alias("cosine_fidelity"),
    )


def _int4_oracle() -> str:
    from interop_spark.queries.pipeline import EMB_DIM, _dk_dot, _dk_norm

    nb = EMB_DIM // INT4_BLOCK
    return f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
          FROM embeddings
        ),
        d AS (
          SELECT vec_id, x,
                 flatten(list_transform(generate_series(0, {nb - 1}),
                   b -> list_transform(
                     x[b * {INT4_BLOCK} + 1 : (b + 1) * {INT4_BLOCK}],
                     xi -> list_min(
                             x[b * {INT4_BLOCK} + 1 : (b + 1) * {INT4_BLOCK}])
                       + (CASE WHEN (list_max(x[b * {INT4_BLOCK} + 1 :
                                               (b + 1) * {INT4_BLOCK}])
                                     - list_min(x[b * {INT4_BLOCK} + 1 :
                                                  (b + 1) * {INT4_BLOCK}]))
                                    / 15.0 > 0
                               THEN round((xi - list_min(
                                      x[b * {INT4_BLOCK} + 1 :
                                        (b + 1) * {INT4_BLOCK}]))
                                    / ((list_max(x[b * {INT4_BLOCK} + 1 :
                                                   (b + 1) * {INT4_BLOCK}])
                                        - list_min(x[b * {INT4_BLOCK} + 1 :
                                                     (b + 1) * {INT4_BLOCK}]))
                                       / 15.0))
                               ELSE 0 END)
                         * ((list_max(x[b * {INT4_BLOCK} + 1 :
                                        (b + 1) * {INT4_BLOCK}])
                             - list_min(x[b * {INT4_BLOCK} + 1 :
                                          (b + 1) * {INT4_BLOCK}]))
                            / 15.0)))) AS xp
          FROM v
        )
        SELECT vec_id,
               round(list_max(list_transform(
                 generate_series(1, {EMB_DIM}), i -> abs(x[i] - xp[i]))), 9)
                 AS max_abs_err,
               round({_dk_dot('x', 'xp')}
                     / greatest({_dk_norm('x')} * {_dk_norm('xp')}, 1e-12),
                     9) AS cosine_fidelity
        FROM d
    """


QUERIES = {
    "theta_sketch_setops": q_theta_sketch_setops,
    "heavy_hitter_tokens": q_heavy_hitter_tokens,
    "cooccurrence_topk": q_cooccurrence_topk,
    "int4_roundtrip": q_int4_roundtrip,
}

ORACLE = {
    "theta_sketch_setops": _theta_oracle(),
    "heavy_hitter_tokens": _hh_oracle(),
    "cooccurrence_topk": _cooc_oracle(),
    "int4_roundtrip": _int4_oracle(),
}


# --------------------------------------------------------------------------
# `mmr_rerank` and `stream_theta_distinct` join QUERIES/ORACLE below.
# --------------------------------------------------------------------------

MMR_QUERY_ID = 1


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity rerank (Carbonell & Goldstein 1998) as a driver
    query: vec_id={MMR_QUERY_ID}'s embedding queries the corpus, the
    relevance top-{operators.mmr.MMR_SHORTLIST} shortlist reranks down
    to k={operators.mmr.MMR_K} diverse picks with lambda=0.7. All
    similarity is floor-ppb INTEGER (engine-exact); the oracle replays
    the identical greedy as unrolled CTE steps."""
    from interop_spark.operators.mmr import mmr_rerank

    # plain load (r20): the relevance pass is Arrow-vectorized now —
    # r19's scan spreading amortized the interpreted fold; a 32-way
    # split of the small local table just pays 32 Python round-trips
    e = load(spark, sf_dir, "embeddings")
    q = [
        float(x)
        for x in e.where(col("vec_id") == MMR_QUERY_ID)
        .select("embedding")
        .collect()[0][0]
    ]
    return mmr_rerank(e, q)


def _mmr_oracle() -> str:
    from interop_spark.operators.mmr import (
        MMR_K,
        MMR_LAM_DEN,
        MMR_LAM_NUM,
        MMR_SHORTLIST,
        PPB,
    )
    from interop_spark.queries.pipeline import _dk_dot, _dk_norm

    ln, ld = MMR_LAM_NUM, MMR_LAM_DEN - MMR_LAM_NUM

    def cos(a: str, b: str) -> str:
        return (
            f"({_dk_dot(a, b)} / greatest({_dk_norm(a)} * {_dk_norm(b)},"
            f" 1e-12))"
        )

    parts = [
        f"""
        WITH qv AS MATERIALIZED (
          SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
          FROM embeddings WHERE vec_id = {MMR_QUERY_ID}
        ),
        sl AS MATERIALIZED (
          SELECT vec_id AS id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 CAST(floor({cos("embedding", "q")} * {PPB}.0) AS BIGINT)
                   AS rel_ppb
          FROM embeddings CROSS JOIN qv
          ORDER BY rel_ppb DESC, id LIMIT {MMR_SHORTLIST}
        ),
        pairs AS MATERIALIZED (
          SELECT a.id AS ia, b.id AS ib,
                 CAST(floor({cos("a.v", "b.v")} * {PPB}.0) AS BIGINT)
                   AS sim_ppb
          FROM sl a JOIN sl b ON a.id <> b.id
        ),
        p1 AS MATERIALIZED (
          SELECT id, rel_ppb, CAST(0 AS BIGINT) AS div_ppb,
                 CAST({ln} * rel_ppb AS BIGINT) AS score_scaled
          FROM sl ORDER BY rel_ppb DESC, id LIMIT 1
        ),
        sel1 AS MATERIALIZED (SELECT id FROM p1)"""
    ]
    for i in range(2, MMR_K + 1):
        parts.append(
            f""",
        c{i} AS MATERIALIZED (
          SELECT s.id, s.rel_ppb,
                 CAST(coalesce(max(p.sim_ppb), 0) AS BIGINT) AS div_ppb
          FROM sl s
          LEFT JOIN pairs p
            ON p.ia = s.id AND p.ib IN (SELECT id FROM sel{i - 1})
          WHERE s.id NOT IN (SELECT id FROM sel{i - 1})
          GROUP BY s.id, s.rel_ppb
        ),
        p{i} AS MATERIALIZED (
          SELECT id, rel_ppb, div_ppb,
                 CAST({ln} * rel_ppb - {ld} * div_ppb AS BIGINT)
                   AS score_scaled
          FROM c{i} ORDER BY score_scaled DESC, id LIMIT 1
        ),
        sel{i} AS MATERIALIZED (SELECT id FROM sel{i - 1} UNION ALL SELECT id FROM p{i})"""
        )
    unions = "\n        UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS rank, id, rel_ppb, div_ppb,"
        f" score_scaled FROM p{i}"
        for i in range(1, MMR_K + 1)
    )
    parts.append(f"\n        {unions}\n        ORDER BY rank\n    ")
    return "".join(parts)


QUERIES["mmr_rerank"] = q_mmr_rerank
ORACLE["mmr_rerank"] = _mmr_oracle()


def q_stream_theta_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING theta/KMV distinct sketch — per-event-type distinct
    USERS maintained across micro-batches by `theta_merge` (the KMV
    sibling of `stream_hll_users`): each of the 4 micro-batches builds
    its own k-bounded bottom-k sketch, and the fold merges them. The
    merge is PROVABLY exact for any batch split
    (`test_theta_streaming_fold_equals_batch`), so the oracle is the
    batch sketch over all events. Unlike HLL this sketch
    also supports INTERSECTION algebra — the reason both exist.

    Emits per event_type: n_kept, theta, est_distinct (the KMV
    ``(k-1) * 2^32 div theta`` estimator, exact when unsaturated) and
    exact_distinct as the audit. State between batches is
    O(groups * k) survivor rows, never event rows."""
    from interop_spark.operators.theta import theta_merge
    from interop_spark.streaming.cdc import fold_events

    def _sketch(batch_df: DataFrame) -> DataFrame:
        kb, _ = theta_sketch(
            theta_items(batch_df, col("event_type"), col("user_id")),
            k=THETA_K,
        )
        return kb

    folded = fold_events(
        spark,
        sf_dir,
        _sketch,
        lambda state, kb: theta_merge(state, kb, k=THETA_K)[0],
    )
    ev = load(spark, sf_dir, "events")
    kept, theta = theta_merge(folded, folded, k=THETA_K)
    nk = kept.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
    exact = ev.groupBy(col("event_type").alias("g")).agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        nk.join(F.broadcast(theta), "g")
        .join(F.broadcast(exact), "g")
        .select(
            col("g").alias("event_type"),
            "n_kept",
            col("theta").cast("long").alias("theta"),
            F.when(
                col("theta") == THETA_MAXH, col("n_kept")
            )
            .otherwise(
                F.expr(f"(({THETA_K} - 1) * {THETA_MAXH}) div theta")
            )
            .cast("long")
            .alias("est_distinct"),
            "exact_distinct",
        )
        .orderBy("event_type")
    )


def _stream_theta_oracle() -> str:
    from interop_spark.operators.theta import THETA_K, THETA_MAXH

    return f"""
        WITH items AS (
          SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS k
          FROM events
        ),
        h AS (
          SELECT g, k,
                 CAST(concat('0x', substr(md5(k), 1, 8)) AS BIGINT) AS h
          FROM items
        ),
        r AS (
          SELECT g, h,
                 row_number() OVER (PARTITION BY g ORDER BY h, k) AS rn
          FROM h
        ),
        kept AS (SELECT * FROM r WHERE rn <= {THETA_K}),
        agg AS (
          SELECT g, CAST(count(1) AS BIGINT) AS n_kept,
                 coalesce(max(CASE WHEN rn = {THETA_K} THEN h END),
                          {THETA_MAXH}) AS theta
          FROM kept GROUP BY g
        ),
        exact AS (
          SELECT event_type AS g,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
          FROM events GROUP BY 1
        )
        SELECT a.g AS event_type, a.n_kept, CAST(a.theta AS BIGINT) AS theta,
               CAST(CASE WHEN a.theta = {THETA_MAXH} THEN a.n_kept
                    ELSE (({THETA_K} - 1) * {THETA_MAXH}) // a.theta
                    END AS BIGINT) AS est_distinct,
               x.exact_distinct
        FROM agg a JOIN exact x ON x.g = a.g
        ORDER BY event_type
    """


QUERIES["stream_theta_distinct"] = q_stream_theta_distinct
ORACLE["stream_theta_distinct"] = _stream_theta_oracle()


# --------------------------------------------------------------------------
# Round-16: streaming Count-Min fold — the third mergeable-sketch
# streaming member (HLL folds by register-max, theta/KMV by bottom-k
# union, CMS by counter-wise SUM, which is exactly additive — so the
# streaming fold equals the batch sketch EXACTLY, and the batch SQL is
# the oracle with no estimator slack).
# --------------------------------------------------------------------------

CMS_PHI_DEN = 40  # heavy-user threshold: est >= n_events / 40


def q_stream_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Count-Min heavy hitters — per-user event-count sketch
    maintained across micro-batches by counter-wise SUM (the CMS merge;
    additive, hence fold == one-pass with NO estimator drift): each of
    the 4 micro-batches contributes its own depth x width counter
    frame, and the fold sums them by (j, b). The final
    probe joins every DISTINCT user against the <= depth*width
    broadcast sketch and keeps users whose estimate clears
    n_events/{CMS_PHI_DEN}; exact counts ride along as the audit
    (CMS never underestimates, so every true heavy user survives).

    Scale shape: state between batches is O(depth * width) counter
    rows, never event rows; the probe is a broadcast join against the
    user-id distinct frame. At 100 TB the sketch frame is bytes-sized
    while exact per-user counts would be a full keyed shuffle — the
    reason the sketch family exists."""
    from interop_spark.streaming.cdc import fold_events

    def _counters(batch_df: DataFrame) -> DataFrame:
        rows = batch_df.select(
            col("user_id").cast("string").alias("w"),
            F.explode(F.sequence(F.lit(0), F.lit(HH_DEPTH - 1))).alias("j"),
        )
        return (
            rows.withColumn("b", _cms_bucket(col("j"), col("w")))
            .groupBy("j", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    def _add(state: DataFrame, sk: DataFrame) -> DataFrame:
        return (
            state.unionByName(sk)
            .groupBy("j", "b")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )

    sketch = fold_events(spark, sf_dir, _counters, _add)
    ev = load(spark, sf_dir, "events")
    exact = ev.groupBy(col("user_id").cast("string").alias("token")).agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    probes = exact.select(
        "token",
        F.explode(F.sequence(F.lit(0), F.lit(HH_DEPTH - 1))).alias("j"),
    ).withColumn("b", _cms_bucket(col("j"), col("token")))
    est = (
        probes.join(F.broadcast(sketch), ["j", "b"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(col("cnt"), F.lit(0))).alias("cms_est"))
    )
    n = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        est.crossJoin(F.broadcast(n))
        .where(col("cms_est") * CMS_PHI_DEN >= col("n"))
        .join(exact, "token")
        .select(
            col("token").cast("long").alias("user_id"),
            col("cms_est").cast("long").alias("cms_est"),
            "exact_cnt",
            (col("exact_cnt") * CMS_PHI_DEN >= col("n")).alias("is_true_hh"),
        )
        .orderBy("user_id")
    )


def _stream_cms_oracle() -> str:
    bucket = (
        "CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), '|',"
        " {tok})), 1, 8)) AS BIGINT) % " + str(HH_WIDTH)
    )
    return f"""
        WITH t AS (
          SELECT CAST(user_id AS VARCHAR) AS w FROM events
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
        exact AS (
          SELECT w AS token, CAST(count(*) AS BIGINT) AS exact_cnt
          FROM t GROUP BY w
        ),
        rows_ AS (
          SELECT w, j FROM t,
            unnest(generate_series(0, {HH_DEPTH - 1})) AS g(j)
        ),
        sketch AS (
          SELECT j, {bucket.format(tok='w')} AS b, count(*) AS cnt
          FROM rows_ GROUP BY 1, 2
        ),
        probes AS (
          SELECT token, j, {bucket.format(tok='token')} AS b
          FROM exact, unnest(generate_series(0, {HH_DEPTH - 1})) AS g(j)
        ),
        est AS (
          SELECT p.token,
                 CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS cms_est
          FROM probes p LEFT JOIN sketch s ON p.j = s.j AND p.b = s.b
          GROUP BY p.token
        )
        SELECT CAST(e.token AS BIGINT) AS user_id, e.cms_est, x.exact_cnt,
               x.exact_cnt * {CMS_PHI_DEN} >= n.n AS is_true_hh
        FROM est e JOIN exact x ON x.token = e.token CROSS JOIN n
        WHERE e.cms_est * {CMS_PHI_DEN} >= n.n
        ORDER BY user_id
    """


QUERIES["stream_cms_topk"] = q_stream_cms_topk
ORACLE["stream_cms_topk"] = _stream_cms_oracle()


# --------------------------------------------------------------------------
# Round-16: Unicode NFC normalization pass — a cleaning stage Spark has
# no built-in for (vectorized Arrow pandas UDF over unicodedata; DuckDB
# replays it with nfc_normalize). The fixture text is ASCII, so the
# query PLANTS decomposed sequences deterministically (combining grave
# U+0300 after each 'a' on doc_id % 3 == 0) — both engines construct
# the identical pre-normalization text, then normalize independently,
# pinning true cross-engine NFC parity rather than a no-op.
# --------------------------------------------------------------------------


def q_unicode_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source) Unicode-normalization accounting over the
    planted-decomposition corpus: how many docs NFC actually changed,
    and the total char-length delta (combining pairs compose to single
    code points, so normalized length shrinks by the number of planted
    marks). The normalization itself is a VECTORIZED Arrow pandas UDF
    (`unicodedata.normalize` batch-applied) — the sanctioned shape for
    a per-row Python dependency: one scan, zero shuffle before the
    bounded group-by.

    Scale shape: normalize-then-aggregate touches each row once inside
    the Arrow batch; the only Exchange is the (lang, source) partial
    agg (<= langs x sources groups)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        forget_zip_finders()
        import unicodedata

        return s.map(
            lambda t: None if t is None else unicodedata.normalize("NFC", t)
        )

    d = load(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        "lang",
        "source",
        F.when(
            col("doc_id") % 3 == 0,
            F.regexp_replace(col("text"), "a", "à"),
        )
        .otherwise(col("text"))
        .alias("raw"),
    )
    normed = planted.select(
        "lang",
        "source",
        F.length("raw").alias("raw_len"),
        F.length(nfc(col("raw"))).alias("nfc_len"),
    )
    return (
        normed.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((col("raw_len") != col("nfc_len")).cast("int"))
            .cast("long")
            .alias("n_changed"),
            F.sum(col("raw_len") - col("nfc_len"))
            .cast("long")
            .alias("chars_composed"),
        )
        .orderBy("lang", "source")
    )


def _unicode_oracle() -> str:
    return """
        WITH planted AS (
          SELECT lang, source,
                 CASE WHEN doc_id % 3 = 0
                      THEN replace(text, 'a', 'a' || chr(768))
                      ELSE text END AS raw
          FROM documents
        ),
        normed AS (
          SELECT lang, source, length(raw) AS raw_len,
                 length(nfc_normalize(raw)) AS nfc_len
          FROM planted
        )
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN raw_len <> nfc_len THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_changed,
               CAST(sum(raw_len - nfc_len) AS BIGINT) AS chars_composed
        FROM normed GROUP BY lang, source
        ORDER BY lang, source
    """


QUERIES["unicode_normalize_stats"] = q_unicode_normalize_stats
ORACLE["unicode_normalize_stats"] = _unicode_oracle()
