"""Semantic tests for the round-16 third-wave analytics rows
(queries/analytics_q.py) beyond the auto-parameterized oracle parity:
funnel ordering invariants, cohort base-week totality, salted-agg
equivalence on a planted hot key, and MAD outlier detection on planted
contamination."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from interop_spark.operators.scale import salted_agg
from interop_spark.queries.analytics_q import ORACLE, QUERIES


def test_funnel_stage_monotonicity(spark, sf_dir):
    """Each funnel stage requires the previous one strictly earlier, so
    counts can only shrink; ppm rates stay in [0, 1e6]."""
    row = QUERIES["funnel_conversion"](spark, sf_dir).collect()[0]
    assert row.n_view >= row.n_click >= row.n_purchase >= 0
    assert 0 <= row.click_ppm <= 1_000_000
    assert 0 <= row.purchase_ppm <= 1_000_000


def test_cohort_week_zero_is_total(spark, sf_dir):
    """Every user is active in their own first-seen week, so offset-0
    retention is exactly 1e6 ppm for every cohort, and the offset-0
    user counts sum to the total user count."""
    out = QUERIES["cohort_retention"](spark, sf_dir)
    base = out.where(col("week_offset") == 0).collect()
    assert base, "no offset-0 rows"
    assert all(r.retained_ppm == 1_000_000 for r in base)
    from interop_spark.io import load

    n_users = (
        load(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id"))
        .collect()[0][0]
    )
    assert sum(r.n_users for r in base) == n_users


def test_salted_agg_equals_plain_on_hot_key(spark):
    """A pathologically hot key (90% of rows on one key) aggregates to
    the same result salted and unsalted — salting is execution-only."""
    df = spark.range(1000).select(
        F.when(col("id") < 900, F.lit("hot"))
        .otherwise(F.lit("cold"))
        .alias("k"),
        col("id").alias("i"),
        (col("id") * 1.5).alias("v"),
    )
    salted = salted_agg(
        df,
        "k",
        {
            "n": (F.count("*"), "sum"),
            "s": (F.sum("v"), "sum"),
            "lo": (F.min("v"), "min"),
            "hi": (F.max("v"), "max"),
        },
        salt=8,
        salt_on="i",
    )
    plain = df.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    got = {r.k: (r.n, r.s, r.lo, r.hi) for r in salted.collect()}
    want = {r.k: (r.n, r.s, r.lo, r.hi) for r in plain.collect()}
    assert got == want
    # the partial stage really spreads the hot key: >1 distinct salt
    n_salts = (
        df.withColumn(
            "_salt", F.pmod(F.xxhash64(col("i")), F.lit(8))
        )
        .where(col("k") == "hot")
        .select("_salt")
        .distinct()
        .count()
    )
    assert n_salts > 1


def test_salted_agg_rejects_bad_combine(spark):
    df = spark.range(10).select(F.lit("a").alias("k"), col("id").alias("v"))
    with pytest.raises(ValueError, match="sum/min/max"):
        salted_agg(df, "k", {"n": (F.avg("v"), "avg")})


def test_mad_flags_planted_outlier(spark):
    """A tight cluster plus one far point: the far point is the only
    3-MAD outlier; MAD is robust to it (stays at the cluster scale)."""
    vals = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 1000.0]
    df = spark.createDataFrame(
        [("a", v) for v in vals], "event_type string, value double"
    )
    med = df.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = df.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.median(F.abs(col("value") - col("med"))).alias("mad")
    )
    r = (
        dev.join(F.broadcast(mad), "event_type")
        .agg(
            F.sum(
                (F.abs(col("value") - col("med")) > 3 * col("mad")).cast(
                    "long"
                )
            ).alias("n_out")
        )
        .collect()[0]
    )
    assert r.n_out == 1
    m = mad.collect()[0].mad
    assert m < 1.0, f"MAD not robust: {m}"


def test_rolling_7d_superset_of_dau(spark, sf_dir):
    """The trailing 7-day window contains each day's own actives, so
    rolling_users >= that day's DAU everywhere, and never exceeds the
    total user count."""
    from interop_spark.io import load

    rolled = {
        r.day: r.rolling_users
        for r in QUERIES["rolling_7d_users"](spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    dau = {
        r.day: r.n
        for r in ev.groupBy(
            F.date_format(
                F.date_trunc("day", col("ts")), "yyyy-MM-dd"
            ).alias("day")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    n_total = ev.agg(F.countDistinct("user_id")).collect()[0][0]
    assert set(rolled) == set(dau)
    for day, n in rolled.items():
        assert dau[day] <= n <= n_total, (day, dau[day], n, n_total)


def test_transition_matrix_accounting(spark, sf_dir):
    """Each user with k events contributes exactly k-1 transitions, so
    the matrix total is n_events - n_users; per-from ppm sums land in
    [1e6 - n_to_types, 1e6] (floor slack)."""
    from collections import defaultdict

    from interop_spark.io import load

    rows = QUERIES["event_transition_matrix"](spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n for r in rows) == n_events - n_users
    by_from = defaultdict(list)
    for r in rows:
        by_from[r.from_type].append(r.p_ppm)
    for ft, ppms in by_from.items():
        s = sum(ppms)
        assert 1_000_000 - len(ppms) <= s <= 1_000_000, (ft, s)


def test_zipf_fit_is_decreasing_fit(spark, sf_dir):
    """Token frequency decreases with rank, so the fitted slope is
    negative and r2 is a valid square in [0, 1]."""
    r = QUERIES["zipf_fit_slope"](spark, sf_dir).collect()[0]
    assert r.zipf_slope < 0
    assert 0.0 <= r.r2 <= 1.0
    assert r.n_vocab > 0


def test_js_divergence_bounds_and_identity(spark, sf_dir):
    """JS divergence (natural log) lives in [0, ln 2]; identical
    planted distributions give exactly 0 after rounding."""
    import math

    rows = QUERIES["js_divergence_sources"](spark, sf_dir).collect()
    n_sources = len(
        {r.source_a for r in rows} | {r.source_b for r in rows}
    )
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert 0.0 <= r.js_divergence <= math.log(2) + 1e-9

    # planted identity: two sources with the SAME text distribution
    # (load() only reads <dir>/documents.parquet, so a temp fixture dir
    # stands in for sf_dir)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [("a", "x y z"), ("b", "x y z"), ("a", "x x"), ("b", "x x")],
            "source string, text string",
        ).coalesce(1).write.parquet(f"{td}/documents.parquet")
        out = QUERIES["js_divergence_sources"](spark, td).collect()
    assert len(out) == 1 and out[0].js_divergence == 0.0


def test_ndcg_bounds(spark, sf_dir):
    """DCG can't exceed IDCG, so ndcg lives in [0, 1]; a self-query
    (vec 0 is its own exact rank-1 AND hamming-0 neighbor) keeps the
    top of both rankings aligned, so ndcg is strictly positive."""
    r = QUERIES["ndcg_bsq_eval"](spark, sf_dir).collect()[0]
    assert r.k == 10
    assert 0.0 < r.ndcg <= 1.0
    assert r.dcg <= r.idcg + 1e-9


def test_gini_planted_distributions(spark, sf_dir):
    """Gini = 0 for perfectly equal activity; near (n-1)/n when one
    user owns everything."""
    from pyspark.sql.window import Window as W

    def gini_of(counts):
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(counts)], "user_id long, c long"
        )
        w = W.orderBy(col("c").asc(), col("user_id").asc())
        ranked = df.select(
            "c", F.row_number().over(w).cast("long").alias("i")
        )
        r = ranked.agg(
            F.count("*").alias("n"),
            F.sum("c").alias("t"),
            F.sum(col("i") * col("c")).alias("ic"),
        ).collect()[0]
        return (2 * r.ic - (r.n + 1) * r.t) / (r.n * r.t)

    assert gini_of([5, 5, 5, 5]) == 0.0
    # one user owns all 100 events among 10 users: G = (n-1)/n = 0.9
    assert abs(gini_of([0] * 9 + [100]) - 0.9) < 1e-9

    # and the fixture row is a valid coefficient (sf_dir per ADVICE
    # r16: the suite must follow SPARK_GRAFT_TEST_SF_DIR)
    r = QUERIES["gini_user_activity"](spark, sf_dir)
    g = r.collect()[0].gini
    assert 0.0 <= g < 1.0


def test_anomaly_zscore_accounting(spark, sf_dir):
    """Flags are exactly the rows whose rounded |z| exceeds 2, and
    z-scores average to ~0 (they're centered by construction)."""
    rows = QUERIES["anomaly_days_zscore"](spark, sf_dir).collect()
    assert all((abs(r.z) > 2) == r.is_anomaly for r in rows)
    mean_z = sum(r.z for r in rows) / len(rows)
    assert abs(mean_z) < 1e-3


def test_analytics_plan_shapes(spark, sf_dir):
    """Scale posture of the new rows:
    - salted_agg_skew: exactly TWO hash Exchanges — (key, salt) partial
      then key combine — and no sort-merge join anywhere;
    - mad_outliers: every med/mad join back onto the stream is a
      BroadcastHashJoin (5-row frames), never SortMergeJoin;
    - cohort_retention: no CartesianProduct; the cohort-size join is
      broadcast."""
    from interop_spark.queries import all_queries

    q = all_queries()

    ex = (
        q["salted_agg_skew"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert ex.count("Exchange hashpartitioning") == 2, ex[:2500]
    assert "SortMergeJoin" not in ex, ex[:2500]

    ex2 = (
        q["mad_outliers"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in ex2, ex2[:2500]
    assert "BroadcastHashJoin" in ex2, ex2[:2500]

    ex3 = (
        q["cohort_retention"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in ex3, ex3[:2500]
    assert "BroadcastHashJoin" in ex3, ex3[:2500]


def test_topk_per_group_oracle_parity(spark, sf_dir):
    """`topk_per_group` (staged r16, registered r17) satisfies the
    driver's full oracle contract; sf_dir fixture per ADVICE r16."""
    from tests.test_oracle_parity import _canon, _duck

    sdf = QUERIES["topk_per_group"](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["topk_per_group"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)


def test_topk_per_group_plan_uses_window_group_limit(spark, sf_dir):
    """The rank<=k filter plans as WindowGroupLimit (map-side partial
    limit BEFORE the exchange) — the scale property that makes
    per-group top-k safe on a group with millions of rows."""
    ex = (
        QUERIES["topk_per_group"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in ex, ex[:2500]


def test_percent_change_wow_oracle_parity(spark, sf_dir):
    """`percent_change_wow` (staged r16, registered r17) satisfies the
    driver's full oracle contract; sf_dir fixture per ADVICE r16."""
    from tests.test_oracle_parity import _canon, _duck

    sdf = QUERIES["percent_change_wow"](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["percent_change_wow"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)


def test_percent_change_wow_first_week_null(spark, sf_dir):
    """Each event_type's first week has no predecessor: exactly one
    NULL delta per type, and every later delta is finite."""
    from collections import defaultdict

    rows = QUERIES["percent_change_wow"](spark, sf_dir).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    for t, rs in by_type.items():
        rs.sort(key=lambda r: r.week)
        assert rs[0].delta_ppm is None, t
        assert all(r.delta_ppm is not None for r in rs[1:]), t


def test_bucketed_join_agg_plan_shape(spark, sf_dir):
    """The bucketed layout removes the join's shuffles entirely: the
    merge-hinted SMJ reads both bucketed tables with ZERO pre-join
    Exchange — the only Exchange left is the bounded priority
    aggregate (1 total)."""
    from interop_spark.queries import all_queries

    q = all_queries()
    df = q["bucketed_join_agg"](spark, sf_dir)
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in ex, ex[:2500]
    assert ex.count("Exchange hashpartitioning") == 1, ex[:2500]


def test_funnel_matches_python_reference(spark):
    """The 3-stage horizon funnel equals an independent per-user python
    simulation on a planted frame covering the edge cases: click
    exactly AT the horizon boundary (kept — <=), click exactly at t1
    (dropped — strict >), purchase before click (dropped), and a user
    with stages out of order."""
    import datetime as dt

    from interop_spark.queries.analytics_q import (
        FUNNEL_HORIZON_DAYS,
        q_funnel_conversion,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(days):
        return t0 + dt.timedelta(days=days)

    rows = [
        # u1: full conversion inside horizons
        (1, ts(0), "view"), (1, ts(1), "click"), (1, ts(2), "purchase"),
        # u2: click exactly at the 3-day boundary (kept), no purchase
        (2, ts(0), "view"), (2, ts(3), "click"),
        # u3: click AT t1 (strict >, dropped from stage 2)
        (3, ts(0), "view"), (3, ts(0), "click"),
        # u4: purchase BEFORE the click (dropped from stage 3)
        (4, ts(0), "view"), (4, ts(1), "click"), (4, ts(0.5), "purchase"),
        # u5: click past the horizon (dropped)
        (5, ts(0), "view"), (5, ts(4), "click"),
        # u6: no view at all
        (6, ts(0), "click"), (6, ts(1), "purchase"),
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(i, t, u, e, 0.0, "{}") for i, (u, t, e) in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).coalesce(1).write.parquet(f"{td}/events.parquet")
        got = q_funnel_conversion(spark, td).collect()[0]

    # python reference
    horizon = dt.timedelta(days=FUNNEL_HORIZON_DAYS)
    users = {u for u, _, _ in rows}
    t1 = {}
    for u in users:
        vs = [t for (uu, t, e) in rows if uu == u and e == "view"]
        if vs:
            t1[u] = min(vs)
    t2 = {}
    for u, start in t1.items():
        cs = [t for (uu, t, e) in rows
              if uu == u and e == "click" and start < t <= start + horizon]
        if cs:
            t2[u] = min(cs)
    t3 = {}
    for u, start in t2.items():
        ps = [t for (uu, t, e) in rows
              if uu == u and e == "purchase"
              and start < t <= start + horizon]
        if ps:
            t3[u] = min(ps)
    assert (got.n_view, got.n_click, got.n_purchase) == (
        len(t1), len(t2), len(t3)
    )
    # and the planted expectations themselves
    assert len(t1) == 5 and len(t2) == 3 and len(t3) == 1


def test_bitmap_distinct_matches_plain_distinct(spark):
    """Bitmap OR-fold popcounts equal COUNT(DISTINCT) on a planted
    frame with duplicate events, a sparse id, and a word-boundary id
    (63/64) — the packing edge cases."""
    rows = [
        ("a", 0), ("a", 0), ("a", 63), ("a", 64),   # dup + boundary
        ("b", 1), ("b", 1), ("b", 1),               # all dups
        ("c", 1000),                                 # sparse id
    ]
    df = spark.createDataFrame(rows, ["g", "uid"])
    from interop_spark.operators.bitmap import bitmap_words, popcount

    got = {
        r.g: r.n_distinct
        for r in popcount(bitmap_words(df, ["g"], "uid"), ["g"]).collect()
    }
    assert got == {"a": 3, "b": 1, "c": 1}


def test_bitmap_merge_is_idempotent(spark):
    """bit_or is idempotent: re-merging a word frame with ITSELF (the
    re-delivered-batch scenario the streaming fold can meet) changes
    nothing — the property that makes the streaming member exactly
    correct under at-least-once delivery."""
    from interop_spark.operators.bitmap import (
        bitmap_words,
        merge_words,
        popcount,
    )

    df = spark.createDataFrame(
        [("a", i % 70) for i in range(200)] + [("b", 5)], ["g", "uid"]
    )
    words = bitmap_words(df, ["g"], "uid")
    doubled = merge_words(words.unionByName(words), ["g"])
    one = {(r.g, r.n_distinct) for r in popcount(words, ["g"]).collect()}
    two = {
        (r.g, r.n_distinct) for r in popcount(doubled, ["g"]).collect()
    }
    assert one == two == {("a", 70), ("b", 1)}


def test_bitmap_plan_shape(spark, sf_dir):
    """Scale posture: the word-frame build is ONE partially-aggregated
    (group, word) hash exchange — no Expand (the distinct-agg
    rewrite's row multiplier) anywhere, and the event stream never
    shuffles raw (group, id) pairs."""
    from interop_spark.io import load
    from interop_spark.operators.bitmap import bitmap_words

    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    ex = (
        bitmap_words(ev, ["event_type"], "user_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert ex.count("Exchange hashpartitioning") == 1, ex[:2500]
    assert "Expand" not in ex, ex[:2500]
    assert "partial_bit_or" in ex, ex[:2500]


def test_twap_staged_oracle_parity(spark, sf_dir):
    """`twap_per_user` (staged r17, registered r18) satisfies the driver's full
    oracle contract (staging convention)."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.queries.analytics_q import (
        ORACLE,
        QUERIES,
    )

    sdf = QUERIES["twap_per_user"](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["twap_per_user"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)


def test_twap_hand_computed(spark):
    """TWAP on a planted 3-event series equals the hand-computed
    interval-weighted mean; a user with one event emits no row; tied
    timestamps give a NULL TWAP (sum(dt)=0), not a crash."""
    import datetime as dt

    from interop_spark.queries.analytics_q import QUERIES

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # u1: value 10 held 60s, value 30 held 180s -> twap = 25.0
        (1, t0, 1, 10.0),
        (1, t0 + dt.timedelta(seconds=60), 2, 30.0),
        (1, t0 + dt.timedelta(seconds=240), 3, 99.0),
        # u2: single event -> no interval, no row
        (2, t0, 4, 5.0),
        # u3: two events at the SAME timestamp -> dt 0, twap NULL
        (3, t0, 5, 1.0),
        (3, t0, 6, 2.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    import interop_spark.queries.analytics_q as aq

    orig = aq.load
    try:
        aq.load = lambda s, d, t: df
        out = {
            r.user_id: r
            for r in QUERIES["twap_per_user"](
                spark, "unused"
            ).collect()
        }
    finally:
        aq.load = orig
    assert set(out) == {1, 3}
    assert out[1].n_intervals == 2
    assert out[1].span_us == 240_000_000
    assert abs(out[1].twap - 25.0) < 1e-9
    assert out[3].twap is None and out[3].span_us == 0


def test_ab_test_staged_oracle_parity(spark, sf_dir):
    """`ab_test_zstat` (staged r17, registered r18) satisfies the driver's full
    oracle contract; the readout is internally consistent (rates match
    counts, arms partition the users, significant is never NULL)."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.queries.analytics_q import (
        ORACLE,
        QUERIES,
    )

    sdf = QUERIES["ab_test_zstat"](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["ab_test_zstat"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    r = sdf.iloc[0]
    assert r.c0 <= r.n0 and r.c1 <= r.n1
    assert round(r.c0 / r.n0, 5) == r.rate0
    assert r.significant in (True, False)


def test_triangle_staged_oracle_parity_and_plan(spark, sf_dir):
    """`triangle_count` (staged r17, registered r18) satisfies the driver's full
    oracle contract; the fixture graph is triangle-BEARING (a zero
    count would make the row vacuous); the wedge-close join is an
    EQUI-join (no CartesianProduct / BroadcastNestedLoopJoin)."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.queries.analytics_q import (
        ORACLE,
        QUERIES,
    )

    df = QUERIES["triangle_count"](spark, sf_dir)
    sdf = df.toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["triangle_count"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    assert int(sdf.iloc[0].n_triangles) > 0
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in ex, ex[:2500]
    # nested-loop joins appear ONLY as broadcast crosses with 1-row
    # sides (the n-count onto the edge projection + the three stat
    # aggregates — the pagerank_weights convention); the wedge and
    # closing joins themselves plan as keyed joins, and nothing plans
    # as an unbroadcast CartesianProduct (asserted above)
    assert ("SortMergeJoin" in ex) or ("ShuffledHashJoin" in ex) or (
        "BroadcastHashJoin" in ex
    ), ex[:2500]


def test_r17_float_rows_partitioning_invariant(spark, sf_dir):
    """The float-heaviest r17 rows (zipf regression, JS divergence
    sums, the staged TWAP weighted means) must produce IDENTICAL
    rounded output under very different shuffle.partitions — the
    round-6 contract: the driver runs at whatever parallelism it
    likes, and summation order must be absorbed by the rounding."""
    from interop_spark.queries.analytics_q import (
        QUERIES,
        q_js_divergence_sources,
        q_zipf_fit_slope,
    )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = []
        for n in ("2", "31"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            z = sorted(map(tuple, q_zipf_fit_slope(spark, sf_dir).collect()))
            j = sorted(
                map(tuple, q_js_divergence_sources(spark, sf_dir).collect())
            )
            t = sorted(
                map(
                    tuple,
                    QUERIES["twap_per_user"](
                        spark, sf_dir
                    ).collect(),
                )
            )
            results.append((z, j, t))
        assert results[0] == results[1]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_zorder_staged_oracle_parity_and_locality(spark, sf_dir):
    """`zorder_layout` (staged r17, registered r18) satisfies the driver's full
    oracle contract, and delivers the layout guarantee that IS the
    point: every Z bucket's bounding box spans at most a quarter of
    EACH normalized dimension (span <= 16383 of 65536) — the
    multi-dimensional data-skipping property a single-column sort
    cannot give."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.queries.analytics_q import (
        ORACLE,
        QUERIES,
    )

    sdf = QUERIES["zorder_layout"](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["zorder_layout"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    assert len(sdf) > 1  # non-vacuous: the data occupies many buckets
    for _, r in sdf.iterrows():
        assert r.max_x - r.min_x <= 16383, r.to_dict()
        assert r.max_y - r.min_y <= 16383, r.to_dict()


def test_rolling_bitmap_staged_matches_oracle_and_twin(spark, sf_dir):
    """`rolling_7d_users_bitmap` (staged r17, registered r18) equals BOTH its
    oracle (the plain rolling COUNT DISTINCT — deliberately shared
    with `rolling_7d_users`) and the registered densification twin:
    two execution strategies, one semantics."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.queries.analytics_q import (
        ORACLE,
        QUERIES,
    )

    sdf = QUERIES["rolling_7d_users_bitmap"](
        spark, sf_dir
    ).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["rolling_7d_users_bitmap"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    twin = QUERIES["rolling_7d_users"](spark, sf_dir).toPandas()
    assert _canon(sdf) == _canon(twin)


def test_anomaly_degenerate_constant_volume(spark):
    """Constant daily volume gives sd=0: z must be NULL and is_anomaly
    FALSE (not NULL — the SKILL.md NULL-boolean parity trap), on a
    planted fixture the real testdata never exercises."""
    import datetime as dt

    import interop_spark.queries.analytics_q as aq

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i * 10 + d, 1, t0 + dt.timedelta(days=d, hours=i), "view", 1.0)
        for d in range(5)
        for i in range(3)  # exactly 3 events every day
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value"]
    )
    orig = aq.load
    try:
        aq.load = lambda s, d, t: df
        out = aq.q_anomaly_days_zscore(spark, "unused").collect()
    finally:
        aq.load = orig
    assert len(out) == 5
    assert all(r.z is None for r in out)
    assert all(r.is_anomaly is False for r in out)


def test_top_paths_staged_oracle_parity_and_order(spark, sf_dir):
    """`top_paths` (staged r17, registered r18) satisfies the driver's full
    oracle contract; paths are built with an ORDER GUARANTEE
    (sort_array over (rank, type) structs — collect_list alone has
    none) and the rank<=5 filter plans as WindowGroupLimit."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.queries.analytics_q import (
        ORACLE,
        QUERIES,
    )

    df = QUERIES["top_paths"](spark, sf_dir)
    sdf = df.toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["top_paths"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    assert all(p.count(">") <= 4 for p in sdf.path)
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in ex, ex[:2500]


def test_scd2_history_oracle_parity(spark, sf_dir):
    """NEW r18 row `scd2_history`: full driver oracle contract over
    the orders dimension-history build."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.queries.analytics_q import ORACLE, QUERIES

    sdf = QUERIES["scd2_history"](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["scd2_history"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)


def test_scd2_history_invariants(spark, sf_dir):
    """Warehouse SCD2 contract: per customer the versions are
    contiguous from 1, exactly one row is current (and it is the last
    version), intervals chain (valid_to == next valid_from), and
    adjacent versions differ in at least one tracked attribute."""
    from collections import defaultdict

    from interop_spark.queries.analytics_q import QUERIES

    rows = QUERIES["scd2_history"](spark, sf_dir).collect()
    by_key = defaultdict(list)
    for r in rows:
        by_key[r.custkey].append(r)
    for ck, hist in by_key.items():
        hist.sort(key=lambda r: r.version)
        assert [r.version for r in hist] == list(range(1, len(hist) + 1))
        assert sum(1 for r in hist if r.is_current) == 1
        assert hist[-1].is_current and hist[-1].valid_to is None
        for a, b in zip(hist, hist[1:]):
            assert a.valid_to == b.valid_from
            assert (a.status, a.priority) != (b.status, b.priority)


def test_scd2_history_single_shuffle(spark, sf_dir):
    """Scale posture: ONE exchange on the dimension key serves the lag
    window, the run groupBy, and the versioning window (the
    scd2_intervals single-shuffle contract)."""
    from interop_spark.queries.analytics_q import QUERIES

    p = (
        QUERIES["scd2_history"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Exchange hashpartitioning") == 1, p[:2500]


def test_cohort_retention_bitmap_staged_parity_and_twin(spark, sf_dir):
    """The row (staged r18, registered r19) `cohort_retention_bitmap` equals BOTH its
    DuckDB oracle and the plain `cohort_retention` twin (the
    execution-strategy contract: bitmap AND grid == join+COUNT
    DISTINCT retention matrix)."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.queries.analytics_q import ORACLE, QUERIES

    sdf = QUERIES["cohort_retention_bitmap"](
        spark, sf_dir
    ).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["cohort_retention_bitmap"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    twin = QUERIES["cohort_retention"](spark, sf_dir).toPandas()
    assert _canon(sdf) == _canon(twin)
    assert ORACLE["cohort_retention"] == ORACLE[
        "cohort_retention_bitmap"
    ]


def test_event_type_jaccard_staged_parity_and_bounds(spark, sf_dir):
    """The row (staged r18, registered r19) `event_type_jaccard` satisfies the driver's
    full oracle contract; Jaccard invariants hold (0 <= inter <=
    min(|A|,|B|), union >= max, ppm in [0, 1e6], each unordered pair
    once)."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.queries.analytics_q import ORACLE, QUERIES

    df = QUERIES["event_type_jaccard"](spark, sf_dir)
    sdf = df.toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["event_type_jaccard"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    rows = list(sdf.itertuples(index=False))
    assert len(rows) == len({(r.type_a, r.type_b) for r in rows})
    for r in rows:
        assert r.type_a < r.type_b
        assert 0 <= r.n_inter <= r.n_union
        assert 0 <= r.jaccard_ppm <= 1_000_000


def test_rfm_segments_staged_parity_and_bands(spark, sf_dir):
    """The row (staged r18, registered r19) `rfm_segments` satisfies the driver's full
    oracle contract; band invariants hold (scores in 1-4, customer
    counts partition the customer base, at least two distinct
    segments so the banding discriminates)."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.io import load
    from interop_spark.queries.analytics_q import ORACLE, QUERIES

    sdf = QUERIES["rfm_segments"](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["rfm_segments"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    assert len(sdf) >= 2
    for c in ("r_score", "f_score", "m_score"):
        assert sdf[c].between(1, 4).all()
    n_cust = (
        load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert int(sdf.n_customers.sum()) == n_cust


def test_stream_type_jaccard_staged_matches_oracle_and_twin(spark, sf_dir):
    """The streaming Jaccard (staged r18, registered r19) equals BOTH the batch SQL
    oracle (exactly-mergeable idempotent fold — zero slack) and the
    batch bitmap twin."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.queries.analytics_q import ORACLE, QUERIES

    sdf = QUERIES["stream_type_jaccard"](
        spark, sf_dir
    ).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(ORACLE["stream_type_jaccard"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    twin = QUERIES["event_type_jaccard"](
        spark, sf_dir
    ).toPandas()
    assert _canon(sdf) == _canon(twin)


def test_staged_bitmap_rows_plan_shape(spark, sf_dir):
    """Plan pins for the r19-registered bit_and rows: neither plan
    may contain Expand (the distinct-agg rewrite's row multiplier) or
    a user-keyed exchange — the pair/cell work must happen on word
    frames (the bitmap execution-strategy contract); the word build's
    partial bit_or collapse must appear."""
    from interop_spark.queries.analytics_q import QUERIES

    # jaccard checkpoints its word frame (hash once, pair many), so its
    # plan reads Scan ExistingRDD; the retention row's active-week word
    # build stays inline, so its partial bit_or collapse must appear
    pins = {
        "event_type_jaccard": "Scan ExistingRDD",
        "cohort_retention_bitmap": "partial_bit_or",
    }
    for name, pin in pins.items():
        ex = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Expand" not in ex, (name, ex[:2500])
        assert pin in ex, (name, ex[:2500])
        # the pairing/cell join keys on the word index, never user_id
        assert "hashpartitioning(user_id" not in ex, (name, ex[:2500])


# --------------------------------------------------------------------------
# Rows outside the query registry (tests/unregistered_queries.py)
# --------------------------------------------------------------------------

def test_column_profile_staged_parity_and_semantics(spark, sf_dir):
    """r20-staged `column_profile` satisfies the driver's full oracle
    contract; profiler invariants hold (one row per profiled column,
    n_nulls <= n_rows, n_distinct <= n_rows - n_nulls, typed min/max
    populated on exactly one side)."""
    from tests.test_oracle_parity import _canon, _duck

    from tests import unregistered_queries as uq
    from tests.unregistered_queries import (
        PROFILE_DATE_COLS,
        PROFILE_NUM_COLS,
        PROFILE_STR_COLS,
    )

    sdf = uq.QUERIES["column_profile"](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(uq.ORACLE["column_profile"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    want = set(PROFILE_NUM_COLS + PROFILE_STR_COLS + PROFILE_DATE_COLS)
    assert set(sdf["column"]) == want and len(sdf) == len(want)
    for r in sdf.itertuples(index=False):
        assert 0 <= r.n_nulls <= r.n_rows
        assert 0 < r.n_distinct <= r.n_rows - r.n_nulls
        numeric = r.column in PROFILE_NUM_COLS
        import pandas as pd

        assert numeric == pd.notna(r.min_num) == pd.notna(r.max_num)
        assert numeric != (isinstance(r.min_str, str))


def test_column_profile_plan_no_expand(spark, sf_dir):
    """Plan pin: the per-column-leg shape — NO Expand (the one-pass
    multi-count-distinct rewrite's x|columns| row multiplier), every
    leg's scan pruned to its single column."""
    from tests import unregistered_queries as uq

    ex = (
        uq.QUERIES["column_profile"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in ex, ex[:2500]
    import re

    reads = re.findall(r"ReadSchema: struct<([^>]*)", ex)
    assert reads and all(r.count(":") == 1 for r in reads), reads


def test_value_histogram_staged_parity_and_mass(spark, sf_dir):
    """r20-staged `value_histogram` satisfies the driver's full oracle
    contract; the histogram partitions the corpus (counts sum to the
    event count, bins within [0, BINS))."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.io import load
    from tests import unregistered_queries as uq
    from tests.unregistered_queries import HIST_BINS

    sdf = uq.QUERIES["value_histogram"](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(uq.ORACLE["value_histogram"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    n_ev = load(spark, sf_dir, "events").count()
    assert int(sdf.n.sum()) == n_ev
    assert sdf.bin.between(0, HIST_BINS - 1).all()


def test_interarrival_quantiles_staged_parity(spark, sf_dir):
    """r20-staged `interarrival_quantiles` satisfies the driver's full
    oracle contract; quantiles are monotone p50 <= p90 <= p99 and
    positive (ts ties broken by unique event_id keep gaps >= 0)."""
    from tests.test_oracle_parity import _canon, _duck

    from tests import unregistered_queries as uq

    sdf = uq.QUERIES["interarrival_quantiles"](
        spark, sf_dir
    ).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(uq.ORACLE["interarrival_quantiles"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    for r in sdf.itertuples(index=False):
        assert 0 <= r.gap_us_p50 <= r.gap_us_p90 <= r.gap_us_p99
        assert r.n_gaps > 0


def test_cohort_ltv_curve_staged_parity_and_monotone(spark, sf_dir):
    """r20-staged `cohort_ltv_curve` satisfies the driver's full
    oracle contract; LTV invariants hold (cumulative revenue
    non-decreasing within cohort, final cum equals the cohort's
    rounded cell sum, offsets non-negative)."""
    from tests.test_oracle_parity import _canon, _duck

    from tests import unregistered_queries as uq

    sdf = uq.QUERIES["cohort_ltv_curve"](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(uq.ORACLE["cohort_ltv_curve"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    assert (sdf.week_offset >= 0).all()
    for _, g in sdf.sort_values("week_offset").groupby("cohort_week"):
        cum = list(g.cum_revenue)
        assert cum == sorted(cum)
        assert abs(cum[-1] - round(g.revenue.sum(), 2)) < 0.05


def test_benford_first_digit_staged_parity_and_digits(spark, sf_dir):
    """r20-staged `benford_first_digit` satisfies the driver's full
    oracle contract; digits are 1-9, observed ppm sums to ~1e6, and
    the Benford expectation column carries the nine literal
    log10(1+1/d) masses."""
    import math

    from tests.test_oracle_parity import _canon, _duck

    from tests import unregistered_queries as uq

    sdf = uq.QUERIES["benford_first_digit"](
        spark, sf_dir
    ).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(uq.ORACLE["benford_first_digit"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    assert set(sdf.digit) <= set(range(1, 10))
    assert 1_000_000 - 9 <= sdf.observed_ppm.sum() <= 1_000_000
    for r in sdf.itertuples(index=False):
        assert r.benford_ppm == int(
            round(math.log10(1 + 1 / r.digit) * 1_000_000)
        )
        assert r.delta_ppm == r.observed_ppm - r.benford_ppm


def test_value_histogram_degenerate_constant_value(spark, tmp_path):
    """r19 review: min == max makes the bin expression 0/0 — Spark NaN
    (ANSI cast throws) vs DuckDB NULL. Both engines are pinned to bin
    0; verified end-to-end on a constant-value fixture against the
    oracle."""
    import duckdb

    from tests import unregistered_queries as uq

    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, t0, "click" if i % 2 else "view", 7.25) for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    d = str(tmp_path / "degenerate")
    df.coalesce(1).write.parquet(d + "/events.parquet")
    sdf = uq.QUERIES["value_histogram"](spark, d).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'"
    )
    ddf = con.execute(uq.ORACLE["value_histogram"]).df()
    con.close()
    from tests.test_oracle_parity import _canon

    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    assert set(sdf.bin) == {0} and int(sdf.n.sum()) == 40


def test_benford_zero_value_row_is_dropped_not_fatal(spark, tmp_path):
    """r19 review: an all-zero price strips to '' — the guarded cast
    must yield NULL (row dropped, matching the oracle's TRY_CAST)
    instead of an ANSI CAST_INVALID_INPUT under a plain session."""
    import duckdb

    from tests import unregistered_queries as uq

    rows = [(float(v),) for v in (0.0, 123.45, 20.07, 9.9, 123.45)]
    df = spark.createDataFrame(rows, "o_totalprice double")
    d = str(tmp_path / "zeroprice")
    df.coalesce(1).write.parquet(d + "/orders.parquet")
    sdf = uq.QUERIES["benford_first_digit"](spark, d).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{d}/orders.parquet/*.parquet'"
    )
    ddf = con.execute(uq.ORACLE["benford_first_digit"]).df()
    con.close()
    from tests.test_oracle_parity import _canon

    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    assert set(sdf.digit) == {1, 2, 9} and int(sdf.n.sum()) == 4


def test_funnel_time_to_convert_staged_parity(spark, sf_dir):
    """r20-staged `funnel_time_to_convert` satisfies the driver's full
    oracle contract; gaps are positive and bounded by the per-stage
    horizon, quantiles monotone, converted counts consistent with
    `funnel_conversion`."""
    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.queries.analytics_q import FUNNEL_HORIZON_DAYS, QUERIES
    from tests import unregistered_queries as uq

    sdf = uq.QUERIES["funnel_time_to_convert"](
        spark, sf_dir
    ).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(uq.ORACLE["funnel_time_to_convert"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    horizon_us = FUNNEL_HORIZON_DAYS * 86_400 * 1_000_000
    for r in sdf.itertuples(index=False):
        assert 0 < r.gap_us_p50 <= r.gap_us_p90 <= horizon_us
    fc = QUERIES["funnel_conversion"](spark, sf_dir).collect()[0]
    by = {r.stage: r.n_converted for r in sdf.itertuples(index=False)}
    assert by.get("view_to_click", 0) == fc.n_click
    assert by.get("click_to_purchase", 0) == fc.n_purchase


def test_daily_value_trend_staged_parity_and_fit(spark, sf_dir):
    """r20-staged `daily_value_trend` satisfies the driver's full
    oracle contract; fit invariants hold (one row per event type,
    r2 in [0, 1], day/event counts positive, and slope/intercept
    reproduce a numpy least-squares fit of the same daily means)."""
    import numpy as np

    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.io import load
    from tests import unregistered_queries as uq
    from tests.unregistered_queries import TREND_EPOCH

    sdf = uq.QUERIES["daily_value_trend"](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    ddf = con.execute(uq.ORACLE["daily_value_trend"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    ev = load(spark, sf_dir, "events").toPandas()
    types = set(ev.event_type)
    assert set(sdf.event_type) == types and len(sdf) == len(types)
    assert (sdf.n_days > 0).all() and (sdf.n_events > 0).all()
    assert sdf.r2.between(0, 1).all()
    assert int(sdf.n_events.sum()) == len(ev)
    # independent reference: numpy polyfit over the same rounded
    # daily means (5dp agreement = the output rounding)
    ev["day"] = ev.ts.dt.normalize()
    daily = ev.groupby(["event_type", "day"]).value.mean().round(6)
    for r in sdf.itertuples(index=False):
        g = daily[r.event_type]
        x = np.array(
            [(d - np.datetime64(TREND_EPOCH)).days for d in g.index],
            dtype=float,
        )
        slope, intercept = np.polyfit(x, g.values, 1)
        assert abs(slope - r.slope) < 1e-4, r.event_type
        assert abs(intercept - r.intercept) < 1e-4, r.event_type


def test_daily_value_trend_partitioning_invariant(spark, sf_dir):
    """Summation order changes with the partition count; the staged
    trend row's 6dp-rounded daily means + 5dp-rounded moments must
    absorb it (the round-6 float contract — the driver runs at
    whatever parallelism it likes)."""
    from tests import unregistered_queries as uq

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = []
        for n in ("2", "31"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results.append(
                sorted(
                    map(
                        tuple,
                        uq.QUERIES["daily_value_trend"](
                            spark, sf_dir
                        ).collect(),
                    )
                )
            )
        assert results[0] == results[1]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_daily_value_trend_plan_two_level_moment_agg(spark, sf_dir):
    """Scale pin for the staged trend row: exactly TWO exchanges (the
    calendar-bounded (type, day) rollup, then the per-type moment
    fold), the regression moving as partial_regr_* moment tuples (map-
    side fold — O(|types|) tuples cross the second exchange, never
    daily rows), and the scan pruned to the three live columns."""
    from tests import unregistered_queries as uq

    ex = (
        uq.QUERIES["daily_value_trend"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert ex.count("Exchange hashpartitioning") == 2, ex[:3000]
    assert "partial_regr_slope" in ex, ex[:3000]
    assert "partial_avg" in ex, ex[:3000]
    import re

    reads = re.findall(r"ReadSchema: struct<([^>]*)", ex)
    assert reads and all(
        sorted(f.split(":")[0] for f in r.split(","))
        == ["event_type", "ts", "value"]
        for r in reads
    ), reads


def test_survival_km_staged_parity_and_estimator(spark, sf_dir):
    """r20-staged `survival_km` satisfies the driver's full oracle
    contract; Kaplan-Meier invariants hold (non-empty curve with BOTH
    failures and censoring exercised, survival strictly decreasing
    and in (0, 1], n_risk strictly decreasing, durations within the
    follow-up cap) and the curve reproduces a pure-Python KM
    reference over the same subject durations."""
    import math

    from tests.test_oracle_parity import _canon, _duck

    from interop_spark.io import load
    from tests import unregistered_queries as uq
    from tests.unregistered_queries import KM_OBS_HOURS, _KM_HOUR_US

    sdf = (
        uq.QUERIES["survival_km"](spark, sf_dir)
        .toPandas()
        .sort_values("dur_hr")
        .reset_index(drop=True)
    )
    con = _duck(sf_dir)
    ddf = con.execute(uq.ORACLE["survival_km"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    assert len(sdf) > 0
    assert (sdf.survival.diff().dropna() < 0).all()
    assert ((sdf.survival > 0) | (sdf.n_fail == sdf.n_risk)).all()
    assert (sdf.survival <= 1).all()
    assert (sdf.n_risk.diff().dropna() < 0).all()
    assert sdf.dur_hr.between(0, KM_OBS_HOURS).all()
    # pure-Python reference over the same subject durations
    ev = load(spark, sf_dir, "events").toPandas()
    us = ev.ts.astype("int64") // 1000  # ns -> us
    cap = KM_OBS_HOURS * _KM_HOUR_US
    first = us.groupby(ev.user_id).min()
    t_end = int(us.max())
    err = us[ev.event_type == "error"].groupby(
        ev.user_id[ev.event_type == "error"]
    ).min()
    lives = []
    for uid, f in first.items():
        e = err.get(uid)
        obs_end = min(int(f) + cap, t_end)
        fail = e is not None and e < obs_end
        lives.append(
            (((e - f) if fail else obs_end - f) // _KM_HOUR_US, fail)
        )
    assert any(c for _, c in lives) and any(not c for _, c in lives), (
        "fixture must exercise both failures and censoring"
    )
    n_risk = len(lives)
    s = 1.0
    want = []
    for hr in sorted({h for h, _ in lives}):
        d_n = sum(1 for h, c in lives if h == hr and c)
        at = sum(1 for h, _ in lives if h == hr)
        if d_n > 0:
            s *= 1.0 - d_n / n_risk
            want.append((hr, n_risk, d_n, at - d_n, s))
        n_risk -= at
    assert len(want) == len(sdf)
    for (hr, nr, dn, nc, s), r in zip(want, sdf.itertuples(index=False)):
        assert (hr, nr, dn, nc) == (r.dur_hr, r.n_risk, r.n_fail, r.n_censored)
        assert math.isclose(s, r.survival, abs_tol=2e-6)


def test_survival_km_plan_single_corpus_pass(spark, sf_dir):
    """Scale pin for the staged KM row: the per-subject frame is
    checkpointed (the bitmap_distinct_users 'hash once, merge many'
    pattern), so the READOUT plan touches no corpus scan and no
    user-keyed exchange — the one corpus pass and its user shuffle are
    paid once at construction; everything downstream (stats broadcast,
    duration rollup, ordered windows) runs on bounded frames."""
    from tests import unregistered_queries as uq

    ex = (
        uq.QUERIES["survival_km"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FileScan parquet" not in ex, ex[:3000]
    assert "hashpartitioning(user_id" not in ex, ex[:3000]
    assert "BroadcastNestedLoopJoin" in ex, ex[:3000]
