"""Product-analytics rows.

Operators every warehouse/product-analytics user runs that the
registry didn't yet cover (the adjacent shapes it DOES cover are noted,
to keep this module non-duplicative: gap-fill+LOCF is
``resample_ffill``; the SCD2 build is ``scd2_intervals``; join-skew
salting is ``salted_join_agg``; per-source-vs-corpus drift is
``source_drift_chi2``):

- ``funnel_conversion`` — ordered 3-stage funnel (view -> click ->
  purchase, each stage within 3 days of the previous) counted per
  stage with ppm conversion rates. Every stage is an equi-join on
  user_id — the per-user min-time frames are tiny relative to the
  event stream, and nothing sorts globally.
- ``cohort_retention`` — weekly first-seen-cohort retention matrix
  with integer-ppm retention (exact arithmetic, hash-stable): the
  activity frame joins the per-user cohort dim, aggregates on the
  bounded (cohort_week, week_offset) grid, and the cohort sizes come
  back as a broadcast.
- ``salted_agg_skew`` — two-phase skew-salted aggregation
  (``operators/scale.salted_agg``): partial by (key, salt16), combine
  by key. The oracle is the PLAIN group-by — pinning that the skew
  machinery is a pure execution-strategy change, the same contract the
  r8 ``salted_join_agg`` row pins for join salting.
- ``mad_outliers`` — robust outlier detection per event_type: exact
  median, MAD (median absolute deviation), and a 3-MAD outlier count.
  Three aggregate-to-5-rows passes with broadcast joins back onto the
  stream; medians never window over the full stream (an exact grouped
  median is a sort-based aggregate — bounded here by the per-key
  partition, the same cost class the reference's percentile queries
  accept).

Second wave (same module, same non-duplication check):

- ``rolling_7d_users`` — 7-day trailing rolling distinct users per day
  (rolling WAU). Spark windows can't COUNT DISTINCT over a range
  frame; the scalable form is offset densification — each (user, day)
  activity row contributes to its next 7 target days (x7 projection,
  no shuffle), then ONE day-keyed distinct count.
- ``event_transition_matrix`` — first-order Markov transition counts +
  integer-ppm probabilities between consecutive event types per user:
  one user-keyed lead() window, aggregate on the bounded (from x to)
  grid.
- ``zipf_fit_slope`` — Zipf's-law OLS fit (slope/intercept/r2 of
  ln freq ~ ln rank) over the token frequency table; corpus pass is
  one explode + count, the regression runs vocabulary-sized
  (the vocab_coverage posture).
- ``js_divergence_sources`` — pairwise Jensen-Shannon divergence
  between source token distributions (the symmetric pairwise
  complement of source_drift_chi2): corpus collapses to the bounded
  (source x token) frame; the zero-filled distribution grid self-joins
  on token per ordered source pair, all vocabulary-sized.

Third wave:

- ``ndcg_bsq_eval`` — nDCG@10 of the BSQ Hamming ranking against
  exact-cosine graded relevance: the GRADED ranking-quality metric
  next to the recall@k rows. Two TakeOrderedAndProject scans;
  everything after is k-bounded.
- ``gini_user_activity`` — Gini coefficient of per-user activity (the
  concentration audit for source/author skew); integer sums on the
  user-sized ranked frame, one floating division at the end.
- ``anomaly_days_zscore`` — daily-volume z-score anomaly flags: one
  day-keyed count + a 1-row stats broadcast back.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.window import Window

from interop_spark.io import load, load_spread
from interop_spark.operators.scale import salted_agg
from interop_spark.operators.text import tokens as tx_tokens

FUNNEL_HORIZON_DAYS = 3
ROLLING_DAYS = 7

# whitespace tokenization, SQL twin of operators/text.tokens (the same
# pair corpus_ext's rows use)
_TOKS = "string_split_regex(trim(text), '\\s+')"


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-stage ordered funnel with a 3-day per-stage horizon."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    horizon = F.expr(f"INTERVAL {FUNNEL_HORIZON_DAYS} DAYS")
    s1 = (
        ev.where(col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(col("event_type") == "click")
        .join(s1, "user_id")
        .where((col("ts") > col("t1")) & (col("ts") <= col("t1") + horizon))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(col("event_type") == "purchase")
        .join(s2, "user_id")
        .where((col("ts") > col("t2")) & (col("ts") <= col("t2") + horizon))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.agg(F.count("*").alias("n_view"))
    n2 = s2.agg(F.count("*").alias("n_click"))
    n3 = s3.agg(F.count("*").alias("n_purchase"))
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(n3))
        .select(
            col("n_view").cast("long").alias("n_view"),
            col("n_click").cast("long").alias("n_click"),
            col("n_purchase").cast("long").alias("n_purchase"),
            # nullif guards (ADVICE r16): on a fixture with no 'view'
            # or 'click' events the denominator is 0 — Spark and
            # DuckDB diverge on 0-division (NULL vs inf, and DuckDB's
            # CAST(floor(inf) AS BIGINT) errors), so both engines pin
            # the degenerate case to NULL.
            F.floor(
                col("n_click") * 1000000 / F.nullif(col("n_view"), F.lit(0))
            ).alias("click_ppm"),
            F.floor(
                col("n_purchase")
                * 1000000
                / F.nullif(col("n_click"), F.lit(0))
            ).alias("purchase_ppm"),
        )
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-cohort retention: users grouped by first-event week,
    counted per week offset, with ppm retention vs cohort size."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.to_date(F.date_trunc("week", col("ts"))).alias("week")
    ).distinct()
    cohort_sizes = first.groupBy("cohort_week").agg(
        F.count("*").alias("n_cohort")
    )
    ret = (
        active.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(col("week"), col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .join(F.broadcast(cohort_sizes), "cohort_week")
    )
    return ret.select(
        # string date per house oracle convention (duckdb DATE comes
        # back through pandas as midnight datetime64)
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        col("n_users").cast("long").alias("n_users"),
        F.floor(col("n_users") * 1000000 / col("n_cohort")).alias(
            "retained_ppm"
        ),
    )


def q_salted_agg_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the 5 hot event_type keys —
    the exact shape a 1000x-hot-key group-by takes when one reducer
    would spill. The oracle is the plain GROUP BY: salting must be a
    pure execution-strategy change."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    out = salted_agg(
        ev,
        "event_type",
        {
            "n_events": (F.count("*"), "sum"),
            "sum_value": (F.sum("value"), "sum"),
            "min_value": (F.min("value"), "min"),
            "max_value": (F.max("value"), "max"),
        },
        salt=16,
        salt_on="event_id",
    )
    return out.select(
        "event_type",
        col("n_events").cast("long").alias("n_events"),
        F.round(col("sum_value"), 4).alias("sum_value"),
        F.round(col("min_value"), 6).alias("min_value"),
        F.round(col("max_value"), 6).alias("max_value"),
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median / MAD / 3-MAD outlier count per event_type."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.median(F.abs(col("value") - col("med"))).alias("mad")
    )
    flagged = (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (
                    F.abs(col("value") - col("med")) > 3 * col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
    )
    return (
        flagged.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            col("n").cast("long").alias("n"),
            col("n_outliers").cast("long").alias("n_outliers"),
            F.round(col("med"), 6).alias("med"),
            F.round(col("mad"), 6).alias("mad"),
        )
    )


def q_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing rolling distinct users per day (rolling WAU).
    Spark windows can't COUNT DISTINCT over a range frame, so the
    scalable form is offset densification: each distinct (user, day)
    activity row contributes itself to the next 7 target days (a x7
    projection, no shuffle), then one day-keyed distinct count. The
    broadcast semi-join against the observed-day frame drops EVERY
    unobserved target day — days past the span AND interior gap days
    with no activity of their own (such a day gets no row even when
    users were active in its trailing window): the row's semantics are
    rolling WAU over ACTIVE days, not a dense daily series (ADVICE r16
    docstring clarification; densify against a min-max day sequence if
    a dense series is ever wanted)."""
    ev = load(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date(F.date_trunc("day", col("ts"))).alias("day")
    ).distinct()
    days = activity.select("day").distinct()
    contrib = activity.select(
        "user_id",
        F.explode(
            F.expr(
                f"sequence(day, day + interval {ROLLING_DAYS - 1} days,"
                " interval 1 day)"
            )
        ).alias("day"),
    )
    out = (
        contrib.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("rolling_users"))
    )
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        col("rolling_users").cast("long").alias("rolling_users"),
    )


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition estimates between consecutive
    event types per user: one user-keyed window (lead), then the count
    aggregate lands on the bounded (from x to) grid; row totals come
    back as a broadcast for integer-ppm probabilities."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                              "event_type")
    w = Window.partitionBy("user_id").orderBy(
        col("ts").asc(), col("event_id").asc()
    )
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .where(col("to_type").isNotNull())
        .groupBy(
            col("event_type").alias("from_type"), col("to_type")
        )
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            col("n").cast("long").alias("n"),
            F.floor(col("n") * 1000000 / col("n_from")).alias("p_ppm"),
        )
    )


def q_zipf_fit_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the token frequency table: OLS slope /
    intercept of ln(freq) ~ ln(rank) plus the fit's r2. The corpus pass
    is one explode + token-keyed count; the rank window and regression
    run on the VOCABULARY-sized frame (the vocab_coverage posture)."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tx_tokens(col("text"))).alias("tok"))
        .where(col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(col("n").desc(), col("tok").asc())
    ranked = freq.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(col("n").cast("double")).alias("y"),
    )
    return ranked.agg(
        # 5dp, not 6 (ADVICE r16): regr_slope/corr partial-aggregate in
        # a different order per engine, so a value landing on a 5e-7
        # boundary could round differently at 6dp on a regenerated
        # fixture.
        (F.round(F.regr_slope("y", "x"), 5) + F.lit(0.0)).alias(
            "zipf_slope"
        ),
        (F.round(F.regr_intercept("y", "x"), 5) + F.lit(0.0)).alias(
            "zipf_intercept"
        ),
        (F.round(F.pow(F.corr("x", "y"), 2), 5) + F.lit(0.0)).alias("r2"),
        F.count("*").cast("long").alias("n_vocab"),
    )


def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the token
    distributions of each source pair — the symmetric bounded
    drift/similarity matrix a data-mixing pipeline monitors (the
    pairwise complement of source_drift_chi2's per-source-vs-corpus
    test). The corpus collapses to the bounded (source x token) count
    frame; the distribution grid (vocab x sources, zero-filled via a
    vocab x source cross of two bounded frames) self-joins on token per
    ordered source pair, so every stage after the one corpus explode is
    vocabulary-sized."""
    # checkpoint, PLAIN load: the (source, token) count frame is the one
    # corpus-sized pass and is referenced by vocab/sources/grid and the
    # pair self-join's both sides — materialize it once (it is
    # vocab x sources-bounded) instead of re-tokenizing per reference.
    # The scan spread was measured a net LOSS here (interleaved A/B:
    # plain+ckpt 0.65 s vs spread+ckpt 0.86 s min) — the explode pass is
    # cheap per row, so the round-robin exchange of the full text bytes
    # never pays for itself (r19 optimization round, both passes)
    d = load(spark, sf_dir, "documents")
    cnt = (
        d.select("source", F.explode(tx_tokens(col("text"))).alias("tok"))
        .where(col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    vocab = cnt.select("tok").distinct()
    sources = cnt.select("source").distinct()
    grid = (
        vocab.crossJoin(F.broadcast(sources))
        .join(cnt, ["source", "tok"], "left")
        .select(
            "source", "tok", F.coalesce(col("n"), F.lit(0)).alias("n")
        )
    )
    totals = grid.groupBy("source").agg(F.sum("n").alias("total"))
    dist = grid.join(F.broadcast(totals), "source").select(
        "source", "tok", (col("n") / col("total")).alias("p")
    )
    a, b = dist.alias("a"), dist.alias("b")
    pairs = a.join(
        b,
        (col("a.tok") == col("b.tok"))
        & (col("a.source") < col("b.source")),
    ).select(
        col("a.source").alias("source_a"),
        col("b.source").alias("source_b"),
        col("a.p").alias("p"),
        col("b.p").alias("q"),
    )
    half = F.lit(0.5)
    term_p = F.when(
        col("p") > 0, col("p") * F.log(2 * col("p") / (col("p") + col("q")))
    ).otherwise(F.lit(0.0))
    term_q = F.when(
        col("q") > 0, col("q") * F.log(2 * col("q") / (col("p") + col("q")))
    ).otherwise(F.lit(0.0))
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            (
                # 5dp: summed log terms are order-sensitive across
                # engines (ADVICE r16, same rationale as zipf's 5dp)
                F.round(half * F.sum(term_p) + half * F.sum(term_q), 5)
                + F.lit(0.0)
            ).alias("js_divergence")
        )
    )


def q_ndcg_bsq_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BSQ (1-bit sign-quantized) Hamming ranking
    against exact-cosine graded relevance — the GRADED ranking-quality
    metric next to the recall@k rows (``ivf_recall_at_k``,
    ``mrl_recall_at_k`` and bsq's own inline recall count). Relevance
    of the exact rank-i neighbor is k+1-i (0 outside the exact top-k),
    DCG discounts by log2(pos+1) over the APPROX ranking, IDCG is the
    same sum over the exact ranking. Both rankings come from
    TakeOrderedAndProject scans; everything after is k-bounded."""
    from interop_spark.operators import similarity as sim

    k = 10
    e = load(spark, sf_dir, "embeddings")
    q = e.where(col("vec_id") == 0).select(
        col("embedding").alias("qvec"),
        sim.l2_norm(sim.as_double(col("embedding"))).alias("_nq"),
    )
    cos = (
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
    )
    w_exact = Window.orderBy(col("cosine_sim").desc(), col("vec_id").asc())
    exact = (
        cos.orderBy(col("cosine_sim").desc(), col("vec_id").asc())
        .limit(k)
        .select(
            "vec_id",
            F.row_number().over(w_exact).alias("rank_exact"),
        )
        .select(
            "vec_id", (F.lit(k + 1) - col("rank_exact")).alias("rel")
        )
    )

    # BSQ encode (the bsq_hamming_search two-u32 layout) + Hamming rank
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
    qc = codes.where(col("vec_id") == 0).select(
        col("lo").alias("qlo"), col("hi").alias("qhi")
    )
    ham = (
        F.bit_count(col("lo").bitwiseXOR(col("qlo")))
        + F.bit_count(col("hi").bitwiseXOR(col("qhi")))
    ).cast("long")
    w_apx = Window.orderBy(col("hamming").asc(), col("vec_id").asc())
    approx = (
        codes.crossJoin(F.broadcast(qc))
        .select("vec_id", ham.alias("hamming"))
        .orderBy(col("hamming").asc(), col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.row_number().over(w_apx).alias("pos"))
    )
    dcg_terms = approx.join(exact, "vec_id", "left").select(
        (
            F.coalesce(col("rel"), F.lit(0))
            / F.log2(col("pos") + 1)
        ).alias("term")
    )
    idcg = sum(
        (k + 1 - i) / math.log2(i + 1) for i in range(1, k + 1)
    )
    return dcg_terms.agg(F.sum("term").alias("_s")).select(
        F.lit(k).cast("long").alias("k"),
        F.round(col("_s"), 6).alias("dcg"),
        F.lit(round(idcg, 6)).alias("idcg"),
        F.round(col("_s") / F.lit(idcg), 6).alias("ndcg"),
    )


def q_gini_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the per-user event-count distribution — the
    concentration/inequality audit a curation pipeline runs on source
    or author activity. The corpus collapses to the per-user count
    frame; the rank window and the closed-form Gini sum run user-sized.
    All sums are integer (exact); only the final ratio is floating."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    w = Window.orderBy(col("c").asc(), col("user_id").asc())
    ranked = per_user.select(
        col("c"), F.row_number().over(w).cast("long").alias("i")
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("c").alias("total"),
        F.sum(col("i") * col("c")).alias("ic"),
    )
    return agg.select(
        col("n").cast("long").alias("n_users"),
        col("total").cast("long").alias("total_events"),
        F.round(
            (2 * col("ic") - (col("n") + 1) * col("total"))
            / (col("n") * col("total")),
            6,
        ).alias("gini"),
    )


def q_anomaly_days_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly detection: z-score of each day's event
    count against the full span's mean/stddev_pop, flagged at |z| > 2.
    One day-keyed count, then a 1-row stats broadcast back onto the
    days frame — the ops-monitoring shape for ingest volumes."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", col("ts")), "yyyy-MM-dd").alias(
            "day"
        )
    ).agg(F.count("*").alias("n"))
    stats = daily.agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sd")
    )
    # nullif guard (ADVICE r16): constant daily volume gives sd = 0 —
    # pin the degenerate z to NULL on both engines (see the oracle's
    # matching nullif) instead of Spark-NULL vs DuckDB-inf divergence.
    z = F.round((col("n") - col("mu")) / F.nullif(col("sd"), F.lit(0.0)), 6)
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            "day",
            col("n").cast("long").alias("n"),
            z.alias("z"),
            # coalesce: sd=0 makes z NULL (intended), but a NULL
            # boolean breaks cross-engine parity (the SKILL.md
            # NULL-boolean trap) — pin the degenerate flag to FALSE
            F.coalesce(F.abs(z) > 2, F.lit(False)).alias("is_anomaly"),
        )
    )


def q_stream_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING daily-volume anomaly detection — an exactly-mergeable
    streaming fold next to the HLL register-max, theta bottom-k, and
    CMS counter-sum members: per-batch (day, n) partial counts fold by
    day-keyed SUM across the 4 micro-batches, and the z-score/flag
    math runs on the <= span-days final state. Count addition is
    exactly mergeable, so the batch SQL (the ``anomaly_days_zscore``
    oracle) is this row's oracle with zero estimator slack. State
    between batches is O(days), never events."""
    from interop_spark.streaming.cdc import fold_events

    def _daily(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(
            F.date_format(
                F.date_trunc("day", col("ts")), "yyyy-MM-dd"
            ).alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))

    def _add(state: DataFrame, d: DataFrame) -> DataFrame:
        return (
            state.unionByName(d)
            .groupBy("day")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    daily = fold_events(spark, sf_dir, _daily, _add)
    stats = daily.agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sd")
    )
    # same sd=0 nullif guard as the batch twin (ADVICE r16)
    z = F.round((col("n") - col("mu")) / F.nullif(col("sd"), F.lit(0.0)), 6)
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            "day",
            col("n").cast("long").alias("n"),
            z.alias("z"),
            # coalesce: sd=0 makes z NULL (intended), but a NULL
            # boolean breaks cross-engine parity (the SKILL.md
            # NULL-boolean trap) — pin the degenerate flag to FALSE
            F.coalesce(F.abs(z) > 2, F.lit(False)).alias("is_anomaly"),
        )
    )


def _ndcg_bsq_oracle() -> str:
    """DuckDB twin of q_ndcg_bsq_eval — the knn_cosine cosine idiom +
    the bsq_hamming_search sign-word idiom, composed."""
    from interop_spark.queries.pipeline import _dk_dot, _dk_norm

    k = 10

    def word(lo_bit):
        return (
            "list_sum(list_transform(generate_series(0, 31), i -> CASE"
            f" WHEN embedding[i + 1 + {lo_bit}] > 0"
            " THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END))"
        )

    cos = (
        f"round({_dk_dot('e.embedding', 'q.qvec')}"
        f" / greatest({_dk_norm('e.embedding')} * {_dk_norm('q.qvec')},"
        f" 1e-12), 6)"
    )
    idcg = sum((k + 1 - i) / math.log2(i + 1) for i in range(1, k + 1))
    return f"""
        WITH q AS (SELECT embedding AS qvec FROM embeddings
                   WHERE vec_id = 0),
        cos AS (
          SELECT e.vec_id, {cos} AS cosine_sim
          FROM embeddings e CROSS JOIN q
        ),
        exact AS (
          SELECT vec_id,
                 {k + 1} - CAST(row_number() OVER
                   (ORDER BY cosine_sim DESC, vec_id ASC) AS BIGINT) AS rel
          FROM cos ORDER BY cosine_sim DESC, vec_id ASC LIMIT {k}
        ),
        codes AS (
          SELECT vec_id, {word(0)} AS lo, {word(32)} AS hi
          FROM embeddings
        ),
        qc AS (SELECT lo AS qlo, hi AS qhi FROM codes WHERE vec_id = 0),
        approx AS (
          SELECT vec_id,
                 CAST(row_number() OVER
                   (ORDER BY hamming ASC, vec_id ASC) AS BIGINT) AS pos
          FROM (
            SELECT c.vec_id,
                   bit_count(xor(c.lo, qc.qlo))
                   + bit_count(xor(c.hi, qc.qhi)) AS hamming
            FROM codes c CROSS JOIN qc
          ) ORDER BY hamming ASC, vec_id ASC LIMIT {k}
        ),
        terms AS (
          SELECT coalesce(x.rel, 0) / log2(a.pos + 1) AS term
          FROM approx a LEFT JOIN exact x USING (vec_id)
        )
        SELECT CAST({k} AS BIGINT) AS k,
               round(sum(term), 6) AS dcg,
               CAST({round(idcg, 6)!r} AS DOUBLE) AS idcg,
               round(sum(term) / CAST({idcg!r} AS DOUBLE), 6) AS ndcg
        FROM terms
    """


def q_bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed CO-LOCATED join as a driver row (the physical design a
    100 TB deployment uses for its recurring fact-fact joins): orders
    and lineitem are written as 8-bucket tables ON THE JOIN KEY, then
    merge-join hinted (no session-conf mutation) so the bucketed
    SortMergeJoin runs with ZERO pre-join Exchange — bucketing
    satisfies both sides' clustering; the only shuffle left is the
    bounded priority aggregate. The oracle is the plain join+agg SQL:
    the layout must be a pure execution-strategy change (the
    salted_agg_skew contract, applied to storage layout).

    Cross-session idempotency: DROP + purge the managed-table dirs a
    prior session's warehouse may have left behind (the
    fhir_notebook_e2e pattern). Table names fold in the sf_dir (ADVICE
    r16, the land_event_chunks cache-key convention) so two sessions
    benching different scales against one shared warehouse never
    drop/overwrite each other's tables; the rmtree is scoped to the
    catalog's own warehouse dir and these two table names only."""
    import os
    import re
    import shutil
    from urllib.parse import urlparse

    from interop_spark.operators.scale import write_bucketed

    sf_key = re.sub(
        r"[^A-Za-z0-9]", "_",
        os.path.basename(os.path.normpath(sf_dir)) or "sf",
    )
    t_orders, t_lineitem = f"bja_orders_{sf_key}", f"bja_lineitem_{sf_key}"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    # legacy fixed names included: a warehouse written before the
    # sf-keyed rename would otherwise keep its pre-r17 tables forever
    for t in (t_orders, t_lineitem, "bja_orders", "bja_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        if wh:
            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    write_bucketed(
        load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        t_orders,
        "o_orderkey",
        8,
    )
    write_bucketed(
        load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_quantity"
        ),
        t_lineitem,
        "l_orderkey",
        8,
    )
    joined = (
        spark.table(t_orders)
        .hint("merge")
        .join(
            spark.table(t_lineitem),
            col("o_orderkey") == col("l_orderkey"),
        )
    )
    # round 2, not 4: the per-priority price sum is ~6e9 at sf0.1, so
    # double ULP (~1e-6 relative) makes the 4th decimal order-sensitive
    # (the pricing_summary convention for sums of this magnitude)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type (plus an ALL roll-up) via
    the bitmap OR-fold (``operators/bitmap.py``): ids pack into 64-bit
    words keyed (group, id div 64); ``bit_or`` partials collapse each
    map task to |groups| x |id_space|/64 rows BEFORE the exchange —
    shuffle volume is set by the id-space geometry, independent of
    event count, where COUNT(DISTINCT) shuffles every distinct
    (group, id) pair. The ALL row re-merges the SAME word frame with a
    second bit_or (lossless — the re-mergeability COUNT DISTINCT
    results never have). The oracle is the plain COUNT(DISTINCT) SQL:
    the bitmap layout is a pure execution-strategy change (the
    salted_agg_skew / bucketed_join_agg contract)."""
    from interop_spark.operators.bitmap import (
        bitmap_words,
        merge_words,
        popcount,
    )

    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    # hash once, merge many (the minhash persisted-signature pattern):
    # without the checkpoint the ALL branch re-scans the event stream;
    # with it both roll-ups read the bounded word frame.
    words = bitmap_words(ev, ["event_type"], "user_id").localCheckpoint()
    per_type = popcount(words, ["event_type"]).select(
        "event_type", col("n_distinct").alias("n_users")
    )
    total = popcount(merge_words(words, []), []).select(
        F.lit("ALL").alias("event_type"),
        col("n_distinct").alias("n_users"),
    )
    return per_type.unionByName(total)


def q_stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact distinct users — the bitmap bit_or member of the
    exactly-mergeable streaming folds (next to HLL register-max, theta
    bottom-k, CMS counter-sum, day-count SUM): per-batch (event_type,
    word) bitmap partials fold by bit_or across the 4 micro-batches.
    OR is idempotent as well as associative/commutative, so
    re-delivered events cannot even double-count — the strongest merge
    algebra of the folds — and the batch SQL is the oracle with zero
    estimator slack AND zero approximation (unlike the HLL member,
    this streaming distinct is EXACT). State between batches is
    O(|types| x |id_space|/64) words, never events."""
    from interop_spark.operators.bitmap import merge_words, popcount

    words = _stream_type_words(spark, sf_dir)
    per_type = popcount(words, ["event_type"]).select(
        "event_type", col("n_distinct").alias("n_users")
    )
    total = popcount(merge_words(words, []), []).select(
        F.lit("ALL").alias("event_type"),
        col("n_distinct").alias("n_users"),
    )
    return per_type.unionByName(total)


def _stream_type_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_type, word) user bitmaps of the whole events stream,
    folded by bit_or across micro-batches."""
    from interop_spark.operators.bitmap import bitmap_words, merge_words
    from interop_spark.streaming.cdc import fold_events

    return fold_events(
        spark,
        sf_dir,
        lambda b: bitmap_words(b, ["event_type"], "user_id"),
        lambda state, w: merge_words(state.unionByName(w), ["event_type"]),
    )


# --------------------------------------------------------------------------
# Fourth wave.
# --------------------------------------------------------------------------


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (customers < 30) — the per-group-limit
    window shape. Spark 3.5+ plans a rank-filter window as
    WindowGroupLimit: each map task keeps only k rows per group BEFORE
    the exchange, so the shuffle carries <= k rows per (task, group)
    instead of the group's full history — the same partial-limit
    pushdown source_quota_sample relies on. Tie-broken on the unique
    order key for a total order."""
    from pyspark.sql.window import Window as W

    o = load(spark, sf_dir, "orders").where(col("o_custkey") < 30)
    w = W.partitionBy("o_custkey").orderBy(
        col("o_totalprice").desc(), col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(col("rnk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            "rnk",
            F.round(col("o_totalprice"), 2).alias("total_price"),
        )
    )


def q_percent_change_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week volume change per event_type in integer ppm: the
    weekly rollup collapses the stream to the bounded (type x week)
    grid; the lag window and the ppm delta run grid-sized. NULL delta
    marks each type's first week."""
    from pyspark.sql.window import Window as W

    ev = load(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("week", col("ts")), "yyyy-MM-dd").alias(
            "week"
        ),
    ).agg(F.count("*").cast("long").alias("n"))
    w = W.partitionBy("event_type").orderBy(col("week").asc())
    prev = F.lag("n").over(w)
    return weekly.select(
        "event_type",
        "week",
        "n",
        F.when(
            prev.isNotNull(),
            F.floor((col("n") - prev) * 1000000 / prev),
        ).alias("delta_ppm"),
    )


# shared by the batch row and its streaming fold twin
_ANOMALY_DAYS_SQL = """
    WITH daily AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             count(*) AS n
      FROM events GROUP BY 1
    ),
    stats AS (SELECT avg(n) AS mu, stddev_pop(n) AS sd FROM daily)
    SELECT day, CAST(n AS BIGINT) AS n,
           round((n - mu) / nullif(sd, 0), 6) AS z,
           coalesce(abs(round((n - mu) / nullif(sd, 0), 6)) > 2, FALSE)
             AS is_anomaly
    FROM daily, stats
"""

# --------------------------------------------------------------------------
# Fifth wave.
# --------------------------------------------------------------------------


def q_twap_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (the TWAP shape ops and
    finance pipelines run on irregular event streams): each event's
    value holds until the user's next event, weight = that interval in
    seconds, TWAP = sum(value*dt)/sum(dt). One user-keyed lead()
    window, then a per-user aggregate — no self-join, no
    densification; the per-user state the window sorts is the user's
    own history, the same cost class as sessionize. The last event per
    user has no interval and drops; all-tied timestamps give sum(dt)=0
    and a NULL TWAP on BOTH engines (nullif — the ADVICE r16
    degenerate-denominator convention, applied from birth)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy(
        col("ts").asc(), col("event_id").asc()
    )
    # exact epoch MICROSECONDS on both engines (unix_micros/epoch_us):
    # second-granularity diffs (timestampdiff vs date_diff) truncate
    # differently around fractional seconds and drift the span
    us = F.unix_micros(col("ts"))
    dt = F.lead(us).over(w) - us
    stepped = ev.withColumn("dt", dt).where(col("dt").isNotNull())
    return stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("dt").cast("long").alias("span_us"),
        F.round(
            F.sum(col("value") * col("dt"))
            / F.nullif(F.sum("dt").cast("double"), F.lit(0.0)),
            4,
        ).alias("twap"),
    )


def q_ab_test_zstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between two planted experiment arms
    (arm = user_id % 2; conversion = the user has any purchase event):
    the A/B readout every product-analytics stack ships. The event
    stream collapses to one row per user (exposed flag + converted
    flag), arms aggregate to a 2-row frame, and the pooled z-statistic
    is computed on the crossed 1-row pair — everything after the
    per-user collapse is constant-size. Degenerate pooled rates (0 or
    1 => zero variance) give a NULL z on BOTH engines via nullif."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    # conversion = purchase count STRICTLY ABOVE the global per-user
    # mean — scale-relative, so the rates stay non-degenerate at every
    # sf (a fixed predicate saturates: at sf0.01 every user purchases)
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            (col("event_type") == "purchase").cast("long")
        ).alias("n_purch")
    )
    mean = per_user.agg(F.avg("n_purch").alias("mu"))
    flagged = per_user.crossJoin(F.broadcast(mean)).select(
        "user_id", (col("n_purch") > col("mu")).cast("int").alias("converted")
    )
    arms = (
        flagged.groupBy((col("user_id") % 2).cast("int").alias("arm"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("converted").cast("long").alias("n_converted"),
        )
    )
    a = arms.where(col("arm") == 0).select(
        col("n_users").alias("n0"), col("n_converted").alias("c0")
    )
    b = arms.where(col("arm") == 1).select(
        col("n_users").alias("n1"), col("n_converted").alias("c1")
    )
    j = a.crossJoin(F.broadcast(b))
    p0 = col("c0") / col("n0")
    p1 = col("c1") / col("n1")
    pp = (col("c0") + col("c1")) / (col("n0") + col("n1"))
    se = F.sqrt(
        pp * (1 - pp) * (1 / col("n0") + 1 / col("n1"))
    )
    z = F.round((p0 - p1) / F.nullif(se, F.lit(0.0)), 5)
    return j.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(p0, 5).alias("rate0"),
        F.round(p1, 5).alias("rate1"),
        z.alias("z"),
        # coalesce: a NULL boolean round-trips as None in Spark but
        # NaN through DuckDB's pandas bridge — pin degenerate to FALSE
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).alias("significant"),
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count via DEGREE ORIENTATION
    (``operators/graph.triangle_count``): orient each edge
    low-(deg,id) -> high, join wedges, close with ONE two-column
    equi-join. Orientation bounds out-degrees by O(sqrt(|E|)), so the
    wedge join is O(|E|^1.5) instead of sum-of-deg² — the property
    that lets the clustering-coefficient audit survive a power-law
    web graph at 100 TB. The deterministic graph is ring + skip-2 +
    a 7i+1 chord over the document ids (closed-form, so the DuckDB
    oracle rebuilds it; NOT the pagerank 2-out-link graph, which is
    triangle-FREE and would make the row a vacuous zero): every
    consecutive id triple closes a triangle, so the expected count is
    >= n and the oracle genuinely discriminates. All-integer output."""
    from interop_spark.operators.graph import triangle_count

    d = load(spark, sf_dir, "documents").select("doc_id")
    nrow = d.agg(F.count(F.lit(1)).alias("n"))
    edges = d.crossJoin(F.broadcast(nrow)).select(
        col("doc_id").alias("src"),
        F.explode(
            F.array(
                (col("doc_id") + 1) % col("n"),
                (col("doc_id") + 2) % col("n"),
                (col("doc_id") * 7 + 1) % col("n"),
            )
        ).alias("dst"),
    )
    return triangle_count(edges)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit over orders: normalize
    (o_custkey, order day) to the 16-bit domain, interleave into a
    Morton code (``operators/zorder.z_value`` — one codegen HOF fold),
    assign fixed-width Z range buckets (top 4 code bits), and emit
    each bucket's row count + BOUNDING BOX over both normalized
    dimensions. The output IS the layout guarantee: every bucket's
    box spans at most a quarter of EACH dimension (asserted in
    tests), which is the multi-dimensional data-skipping property a
    single-column sort cannot give — the relational core of the
    reference stack's OPTIMIZE ZORDER step (engine-independent; the
    Delta boundary note in STATUS.md). At 100 TB the same code keys
    repartitionByRange + sorted writes; this row pins the arithmetic
    and the locality, both exactly reproducible in the DuckDB twin."""
    from interop_spark.operators.zorder import z_bucket, z_value

    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
    )
    stats = o.agg(
        F.min("o_custkey").alias("minc"),
        F.max("o_custkey").alias("maxc"),
        F.min("day").alias("mind"),
        F.max("day").alias("maxd"),
    )
    n = o.crossJoin(F.broadcast(stats))
    xn = F.floor(
        (col("o_custkey") - col("minc"))
        * 65535
        / F.nullif((col("maxc") - col("minc")).cast("double"), F.lit(0.0))
    ).cast("bigint")
    yn = F.floor(
        (col("day") - col("mind"))
        * 65535
        / F.nullif((col("maxd") - col("mind")).cast("double"), F.lit(0.0))
    ).cast("bigint")
    coded = n.select(xn.alias("x"), yn.alias("y")).select(
        "x", "y", z_bucket(z_value(col("x"), col("y"))).alias("z_bucket")
    )
    return coded.groupBy("z_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("x").cast("long").alias("min_x"),
        F.max("x").cast("long").alias("max_x"),
        F.min("y").cast("long").alias("min_y"),
        F.max("y").cast("long").alias("max_y"),
    )


def q_rolling_7d_users_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rolling_7d_users` recomputed through the BITMAP word frame —
    same semantics, same ORACLE (the plain SQL), different execution
    strategy: per-day (day, word) bitmaps OR-merge across each
    trailing window instead of exploding per-user activity rows. The
    x7 projection here carries the WORD frame (|days| x |id_space|/64
    rows) rather than the (user, day) activity frame — smaller by a
    factor of ~64/densification, and the merge is the bitmap
    re-mergeability property doing real windowed work. The pairing
    with `rolling_7d_users` pins that both strategies are
    interchangeable (the salted_agg / bucketed_join execution-strategy
    contract, applied to a rolling distinct)."""
    from interop_spark.operators.bitmap import WORD_COL, bitmap_words

    ev = load(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date(F.date_trunc("day", col("ts"))).alias("day")
    ).distinct()
    days = activity.select("day").distinct()
    words = bitmap_words(activity, ["day"], "user_id")
    contrib = words.select(
        F.explode(
            F.expr(
                f"sequence(day, day + interval {ROLLING_DAYS - 1} days,"
                " interval 1 day)"
            )
        ).alias("day"),
        WORD_COL,
        "bits",
    )
    merged = (
        contrib.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day", WORD_COL)
        .agg(F.bit_or("bits").alias("bits"))
        .groupBy("day")
        .agg(F.sum(F.bit_count("bits")).cast("long").alias("rolling_users"))
    )
    return merged.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "rolling_users"
    )


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user journey paths: each user's FIRST 5 events (by time,
    event_id tie-break) concatenated into a '>' path string, counted
    across users — the path-analysis readout next to
    event_transition_matrix's one-step Markov view. Scale shape: one
    user-keyed window ranks events, rank<=5 plans as WindowGroupLimit
    (<=5 rows per user survive map-side), the per-user path is an
    ordered in-group aggregate (sort_array over (rank, type) structs —
    collect_list alone has NO order guarantee), and the path count +
    top-k are a bounded aggregate + TakeOrderedAndProject."""
    w = Window.partitionBy("user_id").orderBy(
        col("ts").asc(), col("event_id").asc()
    )
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    first5 = ev.withColumn("rn", F.row_number().over(w)).where(
        col("rn") <= 5
    )
    paths = first5.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(col("n_users").desc(), col("path").asc())
        .limit(20)
    )


_R18_WAVE_ORACLE = {
    "top_paths": """
        WITH ranked AS (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events
        ),
        paths AS (
          SELECT user_id,
                 string_agg(event_type, '>' ORDER BY rn) AS path
          FROM ranked WHERE rn <= 5 GROUP BY 1
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n_users
        FROM paths GROUP BY 1
        ORDER BY n_users DESC, path ASC LIMIT 20
    """,
    # deliberately ORACLE["rolling_7d_users"]: the bitmap window merge
    # must equal the plain rolling COUNT DISTINCT (execution-strategy
    # contract); assigned after the ORACLE dict below.
    "zorder_layout": """
        WITH o AS (
          SELECT o_custkey,
                 CAST(date_diff('day', DATE '1992-01-01',
                                CAST(o_orderdate AS DATE)) AS BIGINT)
                   AS day
          FROM orders
        ),
        st AS (
          SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
                 min(day) AS mind, max(day) AS maxd
          FROM o
        ),
        norm AS (
          SELECT CAST(floor((o_custkey - minc) * 65535
                       / nullif(CAST(maxc - minc AS DOUBLE), 0))
                      AS BIGINT) AS x,
                 CAST(floor((day - mind) * 65535
                       / nullif(CAST(maxd - mind AS DOUBLE), 0))
                      AS BIGINT) AS y
          FROM o, st
        ),
        coded AS (
          SELECT x, y,
                 CAST(floor(list_sum(list_transform(
                        generate_series(0, 15), i ->
                          CAST(floor(x / power(2, i)) AS BIGINT) % 2
                            * CAST(power(2, 2 * i) AS BIGINT)
                        + CAST(floor(y / power(2, i)) AS BIGINT) % 2
                            * CAST(power(2, 2 * i + 1) AS BIGINT)
                      )) / power(2, 28)) AS INT) AS z_bucket
          FROM norm
        )
        SELECT z_bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(x) AS BIGINT) AS min_x,
               CAST(max(x) AS BIGINT) AS max_x,
               CAST(min(y) AS BIGINT) AS min_y,
               CAST(max(y) AS BIGINT) AS max_y
        FROM coded GROUP BY 1
    """,
    "triangle_count": """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        ed AS (
          SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
          FROM documents, nn
          UNION ALL
          SELECT doc_id, (doc_id + 2) % nn.n FROM documents, nn
          UNION ALL
          SELECT doc_id, (doc_id * 7 + 1) % nn.n FROM documents, nn
        ),
        und AS (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM ed WHERE src <> dst
        ),
        deg AS (
          SELECT node, count(*) AS deg FROM (
            SELECT u AS node FROM und UNION ALL SELECT v FROM und
          ) GROUP BY 1
        ),
        withdeg AS (
          SELECT e.u, e.v, d1.deg AS du, d2.deg AS dv
          FROM und e
          JOIN deg d1 ON d1.node = e.u
          JOIN deg d2 ON d2.node = e.v
        ),
        orient AS (
          SELECT CASE WHEN du < dv OR (du = dv AND u < v)
                      THEN u ELSE v END AS a,
                 CASE WHEN du < dv OR (du = dv AND u < v)
                      THEN v ELSE u END AS b,
                 CASE WHEN du < dv OR (du = dv AND u < v)
                      THEN dv ELSE du END AS db
          FROM withdeg
        ),
        wedges AS (
          SELECT e1.y, e2.z
          FROM (SELECT a AS x, b AS y, db AS dy FROM orient) e1
          JOIN (SELECT a AS x, b AS z, db AS dz FROM orient) e2
            USING (x)
          WHERE e1.dy < e2.dz OR (e1.dy = e2.dz AND e1.y < e2.z)
        ),
        closed AS (
          SELECT 1 FROM wedges w
          JOIN orient o ON o.a = w.y AND o.b = w.z
        )
        SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
               CAST((SELECT count(*) FROM closed) AS BIGINT)
                 AS n_triangles
    """,
    "twap_per_user": """
        WITH stepped AS (
          SELECT user_id, value,
                 lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                   - epoch_us(ts) AS dt
          FROM events
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_intervals,
               CAST(sum(dt) AS BIGINT) AS span_us,
               round(sum(value * dt)
                     / nullif(CAST(sum(dt) AS DOUBLE), 0), 4) AS twap
        FROM stepped WHERE dt IS NOT NULL
        GROUP BY 1
    """,
    "ab_test_zstat": """
        WITH counts AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_purch
          FROM events GROUP BY 1
        ),
        mean AS (SELECT avg(n_purch) AS mu FROM counts),
        per_user AS (
          SELECT user_id,
                 CASE WHEN n_purch > mu THEN 1 ELSE 0 END AS converted
          FROM counts, mean
        ),
        arms AS (
          SELECT CAST(user_id % 2 AS INT) AS arm,
                 CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(converted) AS BIGINT) AS n_converted
          FROM per_user GROUP BY 1
        ),
        a AS (SELECT n_users AS n0, n_converted AS c0
              FROM arms WHERE arm = 0),
        b AS (SELECT n_users AS n1, n_converted AS c1
              FROM arms WHERE arm = 1)
        SELECT n0, c0, n1, c1,
               round(c0 * 1.0 / n0, 5) AS rate0,
               round(c1 * 1.0 / n1, 5) AS rate1,
               round((c0 * 1.0 / n0 - c1 * 1.0 / n1)
                     / nullif(sqrt((c0 + c1) * 1.0 / (n0 + n1)
                              * (1 - (c0 + c1) * 1.0 / (n0 + n1))
                              * (1.0 / n0 + 1.0 / n1)), 0), 5) AS z,
               coalesce(abs(round((c0 * 1.0 / n0 - c1 * 1.0 / n1)
                     / nullif(sqrt((c0 + c1) * 1.0 / (n0 + n1)
                              * (1 - (c0 + c1) * 1.0 / (n0 + n1))
                              * (1.0 / n0 + 1.0 / n1)), 0), 5)) > 1.96,
                        FALSE) AS significant
        FROM a CROSS JOIN b
    """,
}


# the bitmap OR-fold must equal the plain COUNT(DISTINCT) — the oracle
# is deliberately the unoptimized SQL (execution-strategy contract);
# the streaming fold is exactly mergeable AND idempotent, so the same
# SQL is its oracle with zero slack
_BITMAP_DISTINCT_SQL = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    UNION ALL
    SELECT 'ALL' AS event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
"""

QUERIES = {
    "funnel_conversion": q_funnel_conversion,
    "cohort_retention": q_cohort_retention,
    "salted_agg_skew": q_salted_agg_skew,
    "mad_outliers": q_mad_outliers,
    "rolling_7d_users": q_rolling_7d_users,
    "event_transition_matrix": q_event_transition_matrix,
    "zipf_fit_slope": q_zipf_fit_slope,
    "js_divergence_sources": q_js_divergence_sources,
    "ndcg_bsq_eval": q_ndcg_bsq_eval,
    "gini_user_activity": q_gini_user_activity,
    "anomaly_days_zscore": q_anomaly_days_zscore,
    "stream_daily_anomaly": q_stream_daily_anomaly,
    "bucketed_join_agg": q_bucketed_join_agg,
    "topk_per_group": q_topk_per_group,
    "percent_change_wow": q_percent_change_wow,
    "bitmap_distinct_users": q_bitmap_distinct_users,
    "stream_bitmap_distinct": q_stream_bitmap_distinct,
    # --- fifth wave ---
    "top_paths": q_top_paths,
    "zorder_layout": q_zorder_layout,
    "rolling_7d_users_bitmap": q_rolling_7d_users_bitmap,
    "twap_per_user": q_twap_per_user,
    "ab_test_zstat": q_ab_test_zstat,
    "triangle_count": q_triangle_count,
}

ORACLE = {
    "funnel_conversion": f"""
        WITH s1 AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1
        ),
        s2 AS (
          SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s1.t1
            AND e.ts <= s1.t1 + INTERVAL {FUNNEL_HORIZON_DAYS} DAYS
          GROUP BY 1
        ),
        s3 AS (
          SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            AND e.ts <= s2.t2 + INTERVAL {FUNNEL_HORIZON_DAYS} DAYS
          GROUP BY 1
        )
        SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_view,
               CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_click,
               CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_purchase,
               CAST(floor((SELECT count(*) FROM s2) * 1000000.0
                          / nullif((SELECT count(*) FROM s1), 0))
                    AS BIGINT) AS click_ppm,
               CAST(floor((SELECT count(*) FROM s3) * 1000000.0
                          / nullif((SELECT count(*) FROM s2), 0))
                    AS BIGINT) AS purchase_ppm
    """,
    "cohort_retention": """
        WITH first AS (
          SELECT user_id,
                 CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
          FROM events GROUP BY 1
        ),
        active AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('week', ts) AS DATE) AS week
          FROM events
        ),
        sizes AS (
          SELECT cohort_week, count(*) AS n_cohort FROM first GROUP BY 1
        )
        SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
               CAST((a.week - f.cohort_week) / 7 AS INT) AS week_offset,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users,
               CAST(floor(count(DISTINCT a.user_id) * 1000000.0
                          / any_value(s.n_cohort)) AS BIGINT)
                 AS retained_ppm
        FROM active a
        JOIN first f USING (user_id)
        JOIN sizes s ON s.cohort_week = f.cohort_week
        GROUP BY 1, 2
    """,
    # the salted two-phase aggregation MUST equal the plain group-by —
    # the oracle is deliberately the unsalted SQL
    "salted_agg_skew": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value,
               round(min(value), 6) AS min_value,
               round(max(value), 6) AS max_value
        FROM events GROUP BY 1
    """,
    "rolling_7d_users": f"""
        WITH activity AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('day', ts) AS DATE) AS day
          FROM events
        ),
        days AS (SELECT DISTINCT day FROM activity)
        SELECT strftime(g.day, '%Y-%m-%d') AS day,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS rolling_users
        FROM days g
        JOIN activity a
          ON a.day BETWEEN g.day - {ROLLING_DAYS - 1} AND g.day
        GROUP BY g.day
    """,
    "event_transition_matrix": """
        WITH pairs AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
          FROM events
        ),
        cnt AS (
          SELECT from_type, to_type, count(*) AS n
          FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
        ),
        tot AS (SELECT from_type, sum(n) AS n_from FROM cnt GROUP BY 1)
        SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
               CAST(floor(c.n * 1000000.0 / t.n_from) AS BIGINT) AS p_ppm
        FROM cnt c JOIN tot t USING (from_type)
    """,
    "zipf_fit_slope": f"""
        WITH freq AS (
          SELECT tok, count(*) AS n
          FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
          WHERE tok <> '' GROUP BY 1
        ),
        ranked AS (
          SELECT ln(CAST(row_number() OVER
                           (ORDER BY n DESC, tok ASC) AS DOUBLE)) AS x,
                 ln(CAST(n AS DOUBLE)) AS y
          FROM freq
        )
        SELECT round(regr_slope(y, x), 5) + 0.0 AS zipf_slope,
               round(regr_intercept(y, x), 5) + 0.0 AS zipf_intercept,
               round(pow(corr(x, y), 2), 5) + 0.0 AS r2,
               CAST(count(*) AS BIGINT) AS n_vocab
        FROM ranked
    """,
    "js_divergence_sources": f"""
        WITH cnt AS (
          SELECT source, tok, count(*) AS n
          FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents)
          WHERE tok <> '' GROUP BY 1, 2
        ),
        vocab AS (SELECT DISTINCT tok FROM cnt),
        sources AS (SELECT DISTINCT source FROM cnt),
        grid AS (
          SELECT s.source, v.tok, coalesce(c.n, 0) AS n
          FROM vocab v CROSS JOIN sources s
          LEFT JOIN cnt c ON c.source = s.source AND c.tok = v.tok
        ),
        tot AS (SELECT source, sum(n) AS total FROM grid GROUP BY 1),
        dist AS (
          SELECT g.source, g.tok, g.n / t.total AS p
          FROM grid g JOIN tot t USING (source)
        )
        SELECT a.source AS source_a, b.source AS source_b,
               round(0.5 * sum(CASE WHEN a.p > 0
                                    THEN a.p * ln(2 * a.p / (a.p + b.p))
                                    ELSE 0.0 END)
                   + 0.5 * sum(CASE WHEN b.p > 0
                                    THEN b.p * ln(2 * b.p / (a.p + b.p))
                                    ELSE 0.0 END), 5) + 0.0
                 AS js_divergence
        FROM dist a
        JOIN dist b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    """,
    "ndcg_bsq_eval": _ndcg_bsq_oracle(),
    "gini_user_activity": """
        WITH per_user AS (
          SELECT user_id, count(*) AS c FROM events GROUP BY 1
        ),
        ranked AS (
          SELECT c, CAST(row_number() OVER
                   (ORDER BY c ASC, user_id ASC) AS BIGINT) AS i
          FROM per_user
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(c) AS BIGINT) AS total_events,
               round((2 * sum(i * c) - (count(*) + 1) * sum(c))
                     / (count(*) * sum(c)), 6) AS gini
        FROM ranked
    """,
    "anomaly_days_zscore": _ANOMALY_DAYS_SQL,
    # the streaming day-count fold is exactly additive (count-sum
    # merge), so the batch SQL is the oracle with zero estimator slack
    # — the stream_hll_users / stream_cms_topk convention
    "stream_daily_anomaly": _ANOMALY_DAYS_SQL,
    # the bucketed layout must be a pure execution-strategy change —
    # the oracle is deliberately the plain join+agg
    "bucketed_join_agg": """
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_lines,
               round(sum(l.l_extendedprice), 2) AS sum_price,
               round(sum(l.l_quantity), 2) AS sum_qty
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1
    """,
    "mad_outliers": """
        WITH med AS (
          SELECT event_type, median(value) AS med
          FROM events GROUP BY 1
        ),
        mad AS (
          SELECT e.event_type, median(abs(e.value - m.med)) AS mad
          FROM events e JOIN med m USING (event_type)
          GROUP BY 1
        )
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * d.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               round(any_value(m.med), 6) AS med,
               round(any_value(d.mad), 6) AS mad
        FROM events e
        JOIN med m USING (event_type)
        JOIN mad d USING (event_type)
        GROUP BY 1
    """,
    "topk_per_group": """
        SELECT o_custkey, o_orderkey,
               CAST(rnk AS INT) AS rnk,
               round(o_totalprice, 2) AS total_price
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
          FROM orders WHERE o_custkey < 30
        )
        WHERE rnk <= 3
    """,
    "percent_change_wow": """
        WITH weekly AS (
          SELECT event_type,
                 strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        )
        SELECT event_type, week, n,
               CAST(floor((n - lag(n) OVER w) * 1000000.0
                          / lag(n) OVER w) AS BIGINT) AS delta_ppm
        FROM weekly
        WINDOW w AS (PARTITION BY event_type ORDER BY week ASC)
    """,
    "bitmap_distinct_users": _BITMAP_DISTINCT_SQL,
    "stream_bitmap_distinct": _BITMAP_DISTINCT_SQL,
}

ORACLE.update(_R18_WAVE_ORACLE)
# the bitmap window merge must equal the plain rolling COUNT DISTINCT
# (execution-strategy contract): deliberately the same oracle SQL
ORACLE["rolling_7d_users_bitmap"] = ORACLE["rolling_7d_users"]


# --------------------------------------------------------------------------
# NEW round-18: multi-attribute SCD Type-2 dimension build (r17 verdict
# item 6). The single-attribute event-stream build already exists as
# ``scd2_intervals`` (queries/selection_q.py, r13 green); this row is
# the WAREHOUSE-DIMENSION variant the verdict asked for: effective-dated
# history of a composite attribute tuple per dimension key, where a
# change in ANY tracked attribute opens a new version.
# --------------------------------------------------------------------------


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history over ``orders``: per customer, the
    effective-dated history of the tracked attribute tuple
    (o_orderstatus, o_orderpriority), ordered by (o_orderdate,
    o_orderkey) — the unique key makes the ordering total, so run
    boundaries are deterministic on both engines (the dup_span_removal
    tie-order lesson). Gap-and-island: a lag-change flag (a change in
    ANY tracked attribute) cumulative-sums into a run id; each run
    collapses to one version row (valid_from, valid_to = next run's
    valid_from, is_current, version, n_orders).

    Scale shape: ONE exchange on the dimension key serves the lag
    window, the run groupBy (custkey partitioning satisfies the
    (custkey, _grp) clustering), and the lead/row_number window — the
    ``scd2_intervals`` single-shuffle contract (plan-asserted in
    tests/test_analytics_q.py); per-customer state is bounded by run
    count. Effective dates emit as 'yyyy-MM-dd' STRINGS on both
    engines (the r10 OMOP date convention)."""
    o = load(spark, sf_dir, "orders").select(
        col("o_custkey").alias("custkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("eff_date"),
        col("o_orderkey").alias("okey"),
        col("o_orderstatus").alias("status"),
        col("o_orderpriority").alias("priority"),
    )
    return scd2_core(o)


def scd2_core(o: DataFrame) -> DataFrame:
    """The SCD2 gap-and-island core over a (custkey, eff_date, okey,
    status, priority) frame — ONE implementation shared by
    ``q_scd2_history`` and bench.py's ``scd2_history`` scaling probe,
    so the probe can never silently time a different run segmentation
    than the registered row. ``(eff_date, okey)`` must be a total
    order (okey unique)."""
    w = Window.partitionBy("custkey").orderBy(
        col("eff_date").asc(), col("okey").asc()
    )
    prev_s = F.lag("status").over(w)
    prev_p = F.lag("priority").over(w)
    chg = F.when(
        prev_s.isNull()
        | (prev_s != col("status"))
        | (prev_p != col("priority")),
        1,
    ).otherwise(0)
    runs = o.select(
        "custkey",
        "eff_date",
        "status",
        "priority",
        F.sum(chg).over(w).alias("_grp"),
    )
    g = runs.groupBy("custkey", "_grp").agg(
        F.min("eff_date").alias("valid_from"),
        F.min("status").alias("status"),
        F.min("priority").alias("priority"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    w2 = Window.partitionBy("custkey").orderBy(col("_grp").asc())
    nxt = F.lead("valid_from").over(w2)
    return g.select(
        "custkey",
        "status",
        "priority",
        "valid_from",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        F.row_number().over(w2).cast("long").alias("version"),
        "n_orders",
    )


QUERIES["scd2_history"] = q_scd2_history

ORACLE["scd2_history"] = """
    WITH r AS (
      SELECT o_custkey AS custkey,
             strftime(o_orderdate, '%Y-%m-%d') AS eff_date,
             o_orderkey AS okey,
             o_orderstatus AS status,
             o_orderpriority AS priority
      FROM orders
    ),
    flagged AS (
      SELECT *,
             CASE WHEN lag(status) OVER w IS NULL
                    OR lag(status) OVER w <> status
                    OR lag(priority) OVER w <> priority
                  THEN 1 ELSE 0 END AS chg
      FROM r
      WINDOW w AS (PARTITION BY custkey ORDER BY eff_date, okey)
    ),
    runs AS (
      SELECT custkey, eff_date, status, priority,
             sum(chg) OVER
               (PARTITION BY custkey ORDER BY eff_date, okey) AS grp
      FROM flagged
    ),
    g AS (
      SELECT custkey, grp,
             min(eff_date) AS valid_from,
             min(status) AS status,
             min(priority) AS priority,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM runs GROUP BY 1, 2
    )
    SELECT custkey, status, priority, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           lead(valid_from) OVER w2 IS NULL AS is_current,
           CAST(row_number() OVER w2 AS BIGINT) AS version,
           n_orders
    FROM g
    WINDOW w2 AS (PARTITION BY custkey ORDER BY grp)
"""


# --------------------------------------------------------------------------
# Sixth wave: bitmap INTERSECTION (bit_and) rows — the set-operation
# reuse COUNT(DISTINCT) results can never offer — plus rfm_segments.
# --------------------------------------------------------------------------


def q_cohort_retention_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cohort_retention`` recomputed through BITMAP word frames —
    same semantics, same ORACLE (the plain SQL), different execution
    strategy (the rolling_7d_users_bitmap contract, applied to the
    retention matrix): per-cohort and per-week user bitmaps join on
    the WORD INDEX and intersect with bitwise AND, so the retention
    cell (cohort c, week w) is popcount(bits_c & bits_w) — computed
    on the |cohorts| x |weeks| x |id_space|/64 word grid instead of
    re-shuffling per-user activity rows per cell. Cohort sizes are
    popcounts of the SAME cohort frame (hash once, merge many —
    localCheckpoint). Cells where the AND comes out empty are exactly
    the (c, w) combinations the oracle's inner join never emits, so
    they filter on n_users > 0."""
    from interop_spark.operators.bitmap import (
        WORD_COL,
        bitmap_words,
        popcount,
    )

    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    # raw (user, week) rows feed the word build directly — bit_or
    # idempotence makes a pre-DISTINCT redundant, and the partial
    # bit_or collapses map-side to words before the exchange (same
    # shape as q_event_type_jaccard)
    active = ev.select(
        "user_id", F.to_date(F.date_trunc("week", col("ts"))).alias("week")
    )
    cw = bitmap_words(first, ["cohort_week"], "user_id").localCheckpoint()
    aw = bitmap_words(active, ["week"], "user_id")
    sizes = popcount(cw, ["cohort_week"]).select(
        "cohort_week", col("n_distinct").alias("n_cohort")
    )
    cells = (
        cw.select("cohort_week", WORD_COL, col("bits").alias("_cbits"))
        .join(
            aw.select("week", WORD_COL, col("bits").alias("_abits")),
            WORD_COL,
        )
        .groupBy("cohort_week", "week")
        .agg(
            F.sum(F.bit_count(F.expr("_cbits & _abits")))
            .cast("long")
            .alias("n_users")
        )
        .where(col("n_users") > 0)
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(col("week"), col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
            "n_users",
            F.floor(col("n_users") * 1000000 / col("n_cohort")).alias(
                "retained_ppm"
            ),
        )
    )


def q_event_type_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard similarity of USER SETS between event types,
    exactly, via bitmap set algebra: one bitmap per event type (built
    once, localCheckpoint — hash once, merge many), pair intersections
    as popcount(bits_a & bits_b) over a word-index self-join, unions
    by inclusion-exclusion (|A|+|B|-|A∩B| — no second pass, no OR
    join). Integer ppm output end-to-end. The audience-overlap /
    segment-similarity readout every analytics stack ships; at 100 TB
    the pair work is |types|² x |id_space|/64 words — independent of
    event count — where the COUNT(DISTINCT)-based SQL twin pays a
    user-level self-join. Oracle = that plain SQL (execution-strategy
    contract). Core is the shared ``_jaccard_readout`` (also the
    streaming twin's final step). Raw event rows feed the word build
    DIRECTLY — bit_or idempotence makes a pre-DISTINCT redundant, and
    the partial bit_or collapses each map task to words before the
    exchange, so the build pays ONE word-level shuffle instead of a
    pair-level DISTINCT exchange plus the word one."""
    from interop_spark.operators.bitmap import bitmap_words

    tu = load(spark, sf_dir, "events").select("event_type", "user_id")
    words = bitmap_words(tu, ["event_type"], "user_id").localCheckpoint()
    return _jaccard_readout(words)


def _jaccard_readout(words: DataFrame) -> DataFrame:
    """Pairwise Jaccard from a (event_type, word, bits) frame — ONE
    implementation shared by the batch row and the streaming fold
    twin (the scd2_core convention), so the two rows can never
    silently diverge. Intersections are popcount(bits_a & bits_b)
    over a word-index self-join; unions by inclusion-exclusion."""
    from interop_spark.operators.bitmap import WORD_COL, popcount

    sizes = popcount(words, ["event_type"])
    inter = (
        words.select(
            col("event_type").alias("type_a"),
            WORD_COL,
            col("bits").alias("_ba"),
        )
        .join(
            words.select(
                col("event_type").alias("type_b"),
                WORD_COL,
                col("bits").alias("_bb"),
            ),
            WORD_COL,
        )
        .where(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.expr("_ba & _bb")))
            .cast("long")
            .alias("n_inter")
        )
    )
    grid = (
        sizes.select(col("event_type").alias("type_a"), col("n_distinct").alias("_na"))
        .crossJoin(
            F.broadcast(
                sizes.select(
                    col("event_type").alias("type_b"),
                    col("n_distinct").alias("_nb"),
                )
            )
        )
        .where(col("type_a") < col("type_b"))
    )
    un = col("_na") + col("_nb") - F.coalesce(col("n_inter"), F.lit(0))
    return (
        grid.join(inter, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce(col("n_inter"), F.lit(0)).cast("long").alias("n_inter"),
            un.cast("long").alias("n_union"),
            F.floor(
                F.coalesce(col("n_inter"), F.lit(0)) * 1000000 / un
            ).alias("jaccard_ppm"),
        )
    )


_R19_WAVE_QUERIES = {
    "cohort_retention_bitmap": q_cohort_retention_bitmap,
    "event_type_jaccard": q_event_type_jaccard,
}

_R19_WAVE_ORACLE = {
    # deliberately ORACLE["cohort_retention"]: the bitmap AND grid must
    # equal the plain join+COUNT(DISTINCT) retention matrix
    # (execution-strategy contract); assigned below.
    "event_type_jaccard": """
        WITH tu AS (
          SELECT DISTINCT event_type, user_id FROM events
        ),
        sizes AS (
          SELECT event_type, count(*) AS n FROM tu GROUP BY 1
        ),
        inter AS (
          SELECT x.event_type AS type_a, y.event_type AS type_b,
                 count(*) AS n_inter
          FROM tu x
          JOIN tu y ON x.user_id = y.user_id
                   AND x.event_type < y.event_type
          GROUP BY 1, 2
        )
        SELECT sa.event_type AS type_a, sb.event_type AS type_b,
               CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
               CAST(sa.n + sb.n - coalesce(i.n_inter, 0) AS BIGINT)
                 AS n_union,
               CAST(floor(coalesce(i.n_inter, 0) * 1000000.0
                          / (sa.n + sb.n - coalesce(i.n_inter, 0)))
                    AS BIGINT) AS jaccard_ppm
        FROM sizes sa
        JOIN sizes sb ON sa.event_type < sb.event_type
        LEFT JOIN inter i
          ON i.type_a = sa.event_type AND i.type_b = sb.event_type
    """,
}

_R19_WAVE_ORACLE["cohort_retention_bitmap"] = ORACLE["cohort_retention"]


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (the marketing-analytics staple):
    per-customer Recency (days from last order to the corpus anchor =
    global max order date), Frequency (order count), Monetary (order
    value sum), banded into 1-4 scores and rolled up to segment
    counts. Bands are FIXED ARITHMETIC thresholds, not quantiles — a
    global ntile would funnel every customer through one window
    partition at 100 TB, while fixed bands are a pure projection over
    the bounded per-customer frame (the unimax integer-arithmetic
    posture; a quantile-banded variant would broadcast
    percentile_approx thresholds, trading exactness for the same
    shuffle shape). Monetary is rounded to 2dp per customer BEFORE
    banding on BOTH engines: cent-sums carry fp error ~1e-9 which
    round(.,2) absorbs (no true cent value sits at a .xx5 rounding
    boundary), so band membership is cross-engine exact. Plan: one
    per-customer shuffle, a 1-row broadcast anchor, a bounded
    (4x4x4 max) rollup."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    per = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    j = per.crossJoin(F.broadcast(anchor))
    rec = F.datediff(col("anchor"), col("last_order"))
    r_s = (
        F.when(rec <= 180, 4)
        .when(rec <= 365, 3)
        .when(rec <= 730, 2)
        .otherwise(1)
    )
    f_s = (
        F.when(col("n_orders") >= 15, 4)
        .when(col("n_orders") >= 10, 3)
        .when(col("n_orders") >= 5, 2)
        .otherwise(1)
    )
    m_s = (
        F.when(col("monetary") >= 2000000, 4)
        .when(col("monetary") >= 1000000, 3)
        .when(col("monetary") >= 300000, 2)
        .otherwise(1)
    )
    return (
        j.groupBy(
            r_s.cast("int").alias("r_score"),
            f_s.cast("int").alias("f_score"),
            m_s.cast("int").alias("m_score"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.sum("monetary"), 2).alias("sum_monetary"),
        )
    )


_R19_WAVE_QUERIES["rfm_segments"] = q_rfm_segments

_R19_WAVE_ORACLE["rfm_segments"] = """
    WITH anchor AS (SELECT max(o_orderdate) AS anchor FROM orders),
    per AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT CASE WHEN date_diff('day', last_order, anchor) <= 180 THEN 4
                  WHEN date_diff('day', last_order, anchor) <= 365 THEN 3
                  WHEN date_diff('day', last_order, anchor) <= 730 THEN 2
                  ELSE 1 END AS r_score,
             CASE WHEN n_orders >= 15 THEN 4
                  WHEN n_orders >= 10 THEN 3
                  WHEN n_orders >= 5 THEN 2
                  ELSE 1 END AS f_score,
             CASE WHEN monetary >= 2000000 THEN 4
                  WHEN monetary >= 1000000 THEN 3
                  WHEN monetary >= 300000 THEN 2
                  ELSE 1 END AS m_score,
             monetary
      FROM per, anchor
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(monetary), 2) AS sum_monetary
    FROM scored GROUP BY 1, 2, 3
"""


def q_stream_type_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING pairwise user-set Jaccard between event types: the
    per-batch (event_type, word) bitmap partials fold by bit_or across
    the 4 micro-batches (the stream_bitmap_distinct state), and the
    final state answers a question the batches were never asked —
    pairwise set INTERSECTION sizes — through the SAME
    ``_jaccard_readout`` as the batch row. This is the bitmap
    re-mergeability claim doing new work: COUNT(DISTINCT)-style
    per-batch results could never be combined into cross-set algebra
    after the fact, while O(|types| x |id_space|/64) words can. Fold
    is exactly mergeable AND idempotent, so the batch SQL is the
    oracle with zero slack."""
    return _jaccard_readout(_stream_type_words(spark, sf_dir))


_R19_WAVE_QUERIES["stream_type_jaccard"] = q_stream_type_jaccard
_R19_WAVE_ORACLE["stream_type_jaccard"] = _R19_WAVE_ORACLE[
    "event_type_jaccard"
]

# cohort_retention_bitmap and stream_type_jaccard deliberately share
# their plain-SQL twins' oracle text (execution-strategy contract, the
# rolling_7d_users_bitmap convention).
QUERIES.update(_R19_WAVE_QUERIES)
ORACLE.update(_R19_WAVE_ORACLE)
