"""Query/oracle pairs outside the query registry (``interop_spark.queries``).

These thirteen rows were built and parity-tested but never registered:
``__spark_entry__``, ``bench.py`` and ``perfbench/`` never run them, so
they are not engine code. They live here only as the subjects of their own
tests (``test_analytics_q.py``, ``test_selection_ops.py``,
``test_properties.py``). ``QUERIES``/``ORACLE`` follow the registry's
shape (name -> fn(spark, sf_dir); name -> DuckDB SQL).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from interop_spark.io import load
from interop_spark.operators.text import tokens as tx_tokens
from interop_spark.queries.analytics_q import FUNNEL_HORIZON_DAYS
from interop_spark.queries.selection_q import (
    _SEL_TOKENS,
    _SEL_WEIGHT_SQL,
    STRAT_K,
    _stratified_reservoir_oracle,
    _token_weight,
)
from interop_spark.streaming.cdc import fold_events

PROFILE_NUM_COLS = ("o_orderkey", "o_custkey", "o_totalprice")
PROFILE_STR_COLS = ("o_orderstatus", "o_orderpriority")
PROFILE_DATE_COLS = ("o_orderdate",)


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of ``orders`` (the
    deequ/dbt-test staple): one output row per column with row count,
    null count, EXACT distinct count, and typed min/max (numeric
    columns fill ``min_num``/``max_num``; string/date columns fill
    ``min_str``/``max_str`` — dates as 'YYYY-MM-DD' strings per the
    cross-engine date contract). Shape: one single-column global
    aggregate PER COLUMN, unioned — six pruned scans whose TOTAL bytes
    equal one full-table pass (columnar layout), each compiling to a
    partial+final HashAggregate pair with NO Expand (the one-pass
    multi-count-distinct form multiplies every row x|columns| through
    the distinct-agg rewrite — strictly worse at 100 TB than pruned
    per-column passes, and this is the registry's one deliberate
    multi-scan plan). Exact distincts are the profiler contract; an
    approx_count_distinct variant would drop the exchange rows but
    break the oracle."""
    o = load(spark, sf_dir, "orders")

    def leg(c: str, kind: str) -> DataFrame:
        if kind == "num":
            mn = F.min(col(c)).cast("double").alias("min_num")
            mx = F.max(col(c)).cast("double").alias("max_num")
            ms = F.lit(None).cast("string").alias("min_str")
            xs = F.lit(None).cast("string").alias("max_str")
        else:
            fmt = (
                (lambda x: F.date_format(x, "yyyy-MM-dd"))
                if kind == "date"
                else (lambda x: x.cast("string"))
            )
            mn = F.lit(None).cast("double").alias("min_num")
            mx = F.lit(None).cast("double").alias("max_num")
            ms = fmt(F.min(col(c))).alias("min_str")
            xs = fmt(F.max(col(c))).alias("max_str")
        return o.select(col(c)).agg(
            F.lit(c).alias("column"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col(c)))
            .cast("long")
            .alias("n_nulls"),
            F.count_distinct(col(c)).cast("long").alias("n_distinct"),
            mn,
            mx,
            ms,
            xs,
        )

    legs = (
        [leg(c, "num") for c in PROFILE_NUM_COLS]
        + [leg(c, "str") for c in PROFILE_STR_COLS]
        + [leg(c, "date") for c in PROFILE_DATE_COLS]
    )
    out = legs[0]
    for l in legs[1:]:
        out = out.unionByName(l)
    return out


def _column_profile_oracle() -> str:
    legs = []
    for c in PROFILE_NUM_COLS:
        legs.append(f"""
          SELECT '{c}' AS column,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
                 CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
                 CAST(min({c}) AS DOUBLE) AS min_num,
                 CAST(max({c}) AS DOUBLE) AS max_num,
                 CAST(NULL AS VARCHAR) AS min_str,
                 CAST(NULL AS VARCHAR) AS max_str
          FROM orders""")
    for c in PROFILE_STR_COLS:
        legs.append(f"""
          SELECT '{c}' AS column,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
                 CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
                 CAST(NULL AS DOUBLE) AS min_num,
                 CAST(NULL AS DOUBLE) AS max_num,
                 min({c}) AS min_str,
                 max({c}) AS max_str
          FROM orders""")
    for c in PROFILE_DATE_COLS:
        legs.append(f"""
          SELECT '{c}' AS column,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
                 CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
                 CAST(NULL AS DOUBLE) AS min_num,
                 CAST(NULL AS DOUBLE) AS max_num,
                 strftime(min({c}), '%Y-%m-%d') AS min_str,
                 strftime(max({c}), '%Y-%m-%d') AS max_str
          FROM orders""")
    return " UNION ALL ".join(legs)


HIST_BINS = 20


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of ``events.value`` per event type (the
    dashboard staple): global [min, max] reduces to ONE broadcast row,
    bin = least(floor((v-min)/width), bins-1) is a pure projection
    (identical IEEE double arithmetic on both engines — no
    summation-order dependence anywhere), and the rollup is a bounded
    |types| x bins aggregate. Two exchanges total: the 1-row stats
    agg and the (type, bin) count; the scan never shuffles row-level
    values. Empty bins are absent (the oracle's GROUP BY shape)."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    stats = ev.agg(
        F.min("value").alias("_mn"), F.max("value").alias("_mx")
    )
    width = (col("_mx") - col("_mn")) / HIST_BINS
    # degenerate corpus (min == max): width 0 makes the Spark bin 0/0
    # = NaN (ANSI cast throws) while DuckDB 0/0 returns NULL — pin
    # both engines to bin 0 instead (r19 review)
    b = F.when(
        col("_mx") > col("_mn"),
        F.least(
            F.floor((col("value") - col("_mn")) / width),
            F.lit(HIST_BINS - 1),
        ),
    ).otherwise(F.lit(0)).cast("int")
    return (
        ev.crossJoin(F.broadcast(stats))
        .select("event_type", b.alias("bin"), "_mn", "_mx")
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.round(
                    F.first("_mn")
                    + col("bin") * (F.first("_mx") - F.first("_mn")) / HIST_BINS,
                    6,
                )
                + F.lit(0.0)
            ).alias("bin_lo"),
        )
    )


def _value_histogram_oracle() -> str:
    return f"""
        WITH stats AS (
          SELECT min(value) AS mn, max(value) AS mx FROM events
        ),
        binned AS (
          SELECT event_type,
                 CAST(CASE WHEN mx > mn THEN
                        least(floor((value - mn) / ((mx - mn) / {HIST_BINS})),
                              {HIST_BINS - 1})
                      ELSE 0 END AS INT) AS bin,
                 mn, mx
          FROM events, stats
        )
        SELECT event_type, bin,
               CAST(count(*) AS BIGINT) AS n,
               round(min(mn) + bin * (min(mx) - min(mn)) / {HIST_BINS},
                     6) + 0.0 AS bin_lo
        FROM binned GROUP BY event_type, bin
    """


IA_PS = (0.5, 0.9, 0.99)


def q_interarrival_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantiles of USER inter-arrival time (the
    engagement-cadence staple): gap = this event's epoch MICROSECONDS
    minus the same user's previous event (any type; integer
    arithmetic end-to-end per the cross-engine timestamp contract —
    unix_micros vs epoch_us, never second-granularity diffs), gaps
    attributed to the LATER event's type, then EXACT interpolating
    percentiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``,
    both Hyndman-Fan type 7 — the percentile_agg precedent). The lag
    window orders by (ts, event_id): the unique tiebreak makes the
    ordering total, so tied timestamps cannot flip gap attribution
    between evaluations (the dup_span_removal lesson). Shape: one
    user_id exchange for the window, one |types|-key percentile agg."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(col("ts"))
    gap = (us - F.lag(us).over(w)).alias("gap_us")
    gaps = ev.select("event_type", gap).where(col("gap_us").isNotNull())
    aggs = [
        (
            F.round(F.percentile(col("gap_us"), F.lit(p)), 6) + F.lit(0.0)
        ).alias(f"gap_us_p{int(p * 100)}")
        for p in IA_PS
    ]
    return gaps.groupBy("event_type").agg(
        *aggs, F.count(F.lit(1)).cast("long").alias("n_gaps")
    )


def _interarrival_oracle() -> str:
    cols = ",\n               ".join(
        f"round(quantile_cont(gap_us, {repr(p)}), 6) + 0.0"
        f" AS gap_us_p{int(p * 100)}"
        for p in IA_PS
    )
    return f"""
        WITH gaps AS (
          SELECT event_type,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS gap_us
          FROM events
        )
        SELECT event_type,
               {cols},
               CAST(count(*) AS BIGINT) AS n_gaps
        FROM gaps WHERE gap_us IS NOT NULL
        GROUP BY event_type
    """


def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per acquisition cohort by cohort age (the
    LTV-curve staple `cohort_retention` counts users for — this row
    sums money): cohort = customer's first order week, revenue rolls
    up to (cohort_week, week_offset), then a cumulative window over
    offset WITHIN cohort. Float discipline: per-cell sums round to
    2dp BEFORE the cumulative sum (a ~1e-8-ULP float sum rounds
    identically on both engines at cent granularity; the rfm_segments
    precedent), so the running total is integer-exact cent
    arithmetic. Shape: one custkey shuffle for the cohort frame, a
    broadcast-joinable (custkey → cohort) map back onto orders, one
    (cohort, offset) rollup, and a cumulative window whose partitions
    are cohort-sized — bounded by the calendar, not the corpus."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    first = o.groupBy("o_custkey").agg(
        F.to_date(F.date_trunc("week", F.min("o_orderdate"))).alias(
            "cohort_week"
        )
    )
    cells = (
        o.join(first, "o_custkey")
        .select(
            "cohort_week",
            (
                F.datediff(
                    F.to_date(F.date_trunc("week", col("o_orderdate"))),
                    col("cohort_week"),
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
            "o_totalprice",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_orders",
        "revenue",
        (F.round(F.sum("revenue").over(w), 2) + F.lit(0.0)).alias(
            "cum_revenue"
        ),
    )


def _cohort_ltv_oracle() -> str:
    return """
        WITH first AS (
          SELECT o_custkey,
                 CAST(date_trunc('week', min(o_orderdate)) AS DATE)
                   AS cohort_week
          FROM orders GROUP BY 1
        ),
        cells AS (
          SELECT f.cohort_week,
                 CAST(date_diff('day', f.cohort_week,
                      CAST(date_trunc('week', o.o_orderdate) AS DATE)) // 7
                      AS INT) AS week_offset,
                 round(sum(o.o_totalprice), 2) AS revenue,
                 CAST(count(*) AS BIGINT) AS n_orders
          FROM orders o JOIN first f USING (o_custkey)
          GROUP BY 1, 2
        )
        SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
               week_offset, n_orders, revenue,
               round(sum(revenue) OVER (
                 PARTITION BY cohort_week ORDER BY week_offset
                 ROWS UNBOUNDED PRECEDING
               ), 2) + 0.0 AS cum_revenue
        FROM cells
    """


def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (the
    fraud/data-quality screen): observed first-significant-digit
    counts vs the Benford expectation log10(1+1/d), with the
    per-digit deviation in ppm. The digit extraction is pure string
    arithmetic on the absolute value (no float log per row), counts
    are exact integers, and the expectation is nine compile-time
    literals — one 9-key aggregate over a single pruned scan; at
    100 TB this is scan-bandwidth bound with a 9-row result. (TPC-H
    prices are uniform-ish, NOT Benford — the row reports the
    deviation rather than asserting conformance; the operator is the
    deliverable, the fixture just exercises it.)"""
    o = load(spark, sf_dir, "orders").select("o_totalprice")
    stripped = F.regexp_replace(
        F.abs(col("o_totalprice")).cast("string"), r"[0.]*", ""
    )
    # an all-zero value strips to '' — guard the cast so it yields
    # NULL (filtered below) instead of an ANSI CAST_INVALID_INPUT
    # under the driver's plain session, matching the oracle's
    # TRY_CAST (r19 review)
    d1 = F.when(
        F.length(stripped) > 0, F.substring(stripped, 1, 1).cast("int")
    )
    obs = (
        o.select(d1.alias("digit"))
        .where(col("digit").isNotNull() & (col("digit") > 0))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = obs.agg(F.sum("n").alias("_t"))
    expect = F.element_at(
        F.array(
            *[
                F.lit(int(round(math.log10(1 + 1 / d) * 1_000_000)))
                for d in range(1, 10)
            ]
        ),
        col("digit"),
    )
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.floor(col("n") * 1_000_000 / col("_t"))
        .cast("long")
        .alias("observed_ppm"),
        expect.cast("long").alias("benford_ppm"),
        (
            F.floor(col("n") * 1_000_000 / col("_t")) - expect
        )
        .cast("long")
        .alias("delta_ppm"),
    )


def _benford_oracle() -> str:
    cases = " ".join(
        f"WHEN {d} THEN {int(round(math.log10(1 + 1 / d) * 1_000_000))}"
        for d in range(1, 10)
    )
    return f"""
        WITH obs AS (
          SELECT TRY_CAST(substr(regexp_replace(
                   CAST(abs(o_totalprice) AS VARCHAR), '[0.]*', ''),
                   1, 1) AS INT) AS digit,
                 CAST(count(*) AS BIGINT) AS n
          FROM orders
          GROUP BY 1
        ),
        tot AS (SELECT sum(n) AS t FROM obs WHERE digit > 0)
        SELECT digit, n,
               CAST(floor(n * 1000000.0 / t) AS BIGINT) AS observed_ppm,
               CAST(CASE digit {cases} END AS BIGINT) AS benford_ppm,
               CAST(floor(n * 1000000.0 / t)
                    - CASE digit {cases} END AS BIGINT) AS delta_ppm
        FROM obs, tot
        WHERE digit IS NOT NULL AND digit > 0
    """


def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert quantiles between funnel stages (the question
    every funnel dashboard asks right after `funnel_conversion`
    answers "how many"): per converting user, the gap from first view
    to first qualifying click and from that click to first qualifying
    purchase, in integer MICROSECONDS (the cross-engine timestamp
    contract), then EXACT interpolating p50/p90 per stage. The stage
    chain MIRRORS `funnel_conversion`'s (same horizons, same min-ts
    semantics). Shape: the
    funnel joins are user-keyed equi-joins, the quantile agg is
    2-key."""
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
    g2 = s2.join(s1, "user_id").select(
        F.lit("view_to_click").alias("stage"),
        (F.unix_micros(col("t2")) - F.unix_micros(col("t1"))).alias(
            "gap_us"
        ),
    )
    g3 = s3.join(s2, "user_id").select(
        F.lit("click_to_purchase").alias("stage"),
        (F.unix_micros(col("t3")) - F.unix_micros(col("t2"))).alias(
            "gap_us"
        ),
    )
    return (
        g2.unionByName(g3)
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            (F.round(F.percentile(col("gap_us"), F.lit(0.5)), 6) + F.lit(0.0))
            .alias("gap_us_p50"),
            (F.round(F.percentile(col("gap_us"), F.lit(0.9)), 6) + F.lit(0.0))
            .alias("gap_us_p90"),
        )
    )


def _funnel_ttc_oracle() -> str:
    return f"""
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
        ),
        gaps AS (
          SELECT 'view_to_click' AS stage,
                 epoch_us(t2) - epoch_us(t1) AS gap_us
          FROM s2 JOIN s1 USING (user_id)
          UNION ALL
          SELECT 'click_to_purchase' AS stage,
                 epoch_us(t3) - epoch_us(t2) AS gap_us
          FROM s3 JOIN s2 USING (user_id)
        )
        SELECT stage,
               CAST(count(*) AS BIGINT) AS n_converted,
               round(quantile_cont(gap_us, 0.5), 6) + 0.0 AS gap_us_p50,
               round(quantile_cont(gap_us, 0.9), 6) + 0.0 AS gap_us_p90
        FROM gaps GROUP BY stage
    """


TREND_EPOCH = "2024-01-01"  # x-origin: recenters day index near the data


def q_daily_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment KPI trend line — OLS slope / intercept / r² of the
    DAILY MEAN value against the day index, per event_type (the
    grouped sibling of ``zipf_fit_slope``'s single global log-log fit;
    the "is this metric drifting per segment" sparkline every
    monitoring dashboard fits). Two-level shape: the corpus pass is
    one (type, day) rollup — the grid is calendar × |types| bounded,
    independent of event count — and the regression runs per type on
    that bounded frame via the ``regr_*`` partial aggregates (sums of
    moments, one exchange of O(|types|) moment tuples at 100 TB).
    Float discipline: daily means round to 6dp BEFORE the fit (the
    cohort_ltv cell convention), x recenters to days-since-epoch-
    literal so the moment magnitudes stay O(10) (keeping cross-engine
    summation ULP far below the 5dp output rounding), r² is corr²
    (the zipf_fit_slope convention — identical NULL semantics on both
    engines when a degenerate group has zero variance)."""
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.round(F.avg("value"), 6).alias("y"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    x = F.datediff(
        col("day"), F.lit(TREND_EPOCH).cast("date")
    ).cast("double")
    fitted = daily.select("event_type", "y", "n_events", x.alias("x"))
    return fitted.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("n_events").cast("long").alias("n_events"),
        (F.round(F.regr_slope("y", "x"), 5) + F.lit(0.0)).alias("slope"),
        (F.round(F.regr_intercept("y", "x"), 5) + F.lit(0.0)).alias(
            "intercept"
        ),
        (F.round(F.pow(F.corr("x", "y"), 2), 5) + F.lit(0.0)).alias("r2"),
    )


def _daily_value_trend_oracle() -> str:
    return f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 round(avg(value), 6) AS y,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1, 2
        ),
        fitted AS (
          SELECT event_type, y, n_events,
                 CAST(date_diff('day', DATE '{TREND_EPOCH}', day)
                      AS DOUBLE) AS x
          FROM daily
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               round(regr_slope(y, x), 5) + 0.0 AS slope,
               round(regr_intercept(y, x), 5) + 0.0 AS intercept,
               round(pow(corr(x, y), 2), 5) + 0.0 AS r2
        FROM fitted GROUP BY event_type
    """


KM_OBS_HOURS = 48  # administrative censoring: follow-up cap per subject
_KM_HOUR_US = 3_600_000_000


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time-to-first-error survival curve with
    right-censoring — the survival-analysis staple (`cohort_retention`
    counts returners; this estimates S(t) = P(no error within t) while
    CORRECTLY keeping not-yet-failed subjects in the risk set instead
    of dropping or miscounting them). Subjects: users; origin: the
    user's first event; event: their first 'error'; observation ends
    at min(first + ``KM_OBS_HOURS``, corpus end) — the clinical-trial
    fixed-horizon design WITH staggered entry, so a subject enrolling
    within the cap of corpus end is censored at their TRUE (shorter)
    follow-up instead of being mislabeled as error-free for hours
    nobody observed; everyone else censors at the cap (past every
    printable step, so on such a corpus the printed ``n_censored`` is
    typically 0 — late enrollees are what make it nonzero). Durations
    are integer HOURS from epoch-µs integer arithmetic (the
    interarrival_quantiles discipline). Estimator: at each failure
    hour t, S(t) *= (1 - d_t / n_t), n_t = subjects with duration ≥ t,
    computed as a cumulative product via exp(Σ ln) — the zipf
    cross-engine-log precedent, one-ULP libm slack absorbed by the
    6dp rounding; a full-failure step (d = n, ln(0)) is CASE-guarded
    to an exact 0.0 on both engines (DuckDB ERRORS on ln(0)).

    Scale shape: ONE user-keyed exchange builds the per-subject
    (origin, last-seen, first-error) frame via conditional min/max
    aggregates, plus a 1-row broadcast stats join for corpus end (the
    value_histogram idiom); from there every window runs on the
    DISTINCT-DURATION frame — bounded by the follow-up cap
    (≤ KM_OBS_HOURS + 1 rows), independent of user count, so the
    unpartitioned ordered windows are O(cap) on one reducer, never a
    corpus sort. The risk-set total is a whole-frame window sum on
    that same bounded frame. Output: one row per failure step
    (censoring thins the risk set between steps but prints no row —
    the standard KM table shape)."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    us = F.unix_micros(col("ts"))
    # hash once, merge many (the bitmap_distinct_users checkpoint
    # pattern): without it the corpus-end stats branch RE-SCANS events
    # and repeats the user-keyed exchange; with it both branches read
    # the bounded per-subject frame.
    per = ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.max(us).alias("last_us"),
        F.min(F.when(col("event_type") == "error", us)).alias("err_us"),
    ).localCheckpoint()
    stats = per.agg(F.max("last_us").alias("_t_end"))
    j = per.crossJoin(F.broadcast(stats))
    cap = F.lit(KM_OBS_HOURS * _KM_HOUR_US)
    obs_end = F.least(col("first_us") + cap, col("_t_end"))
    failed = col("err_us").isNotNull() & (col("err_us") < obs_end)
    dur_us = F.when(failed, col("err_us") - col("first_us")).otherwise(
        obs_end - col("first_us")
    )
    durs = j.select(
        failed.cast("int").alias("fail"), dur_us.alias("dur_us")
    ).select(
        F.expr(f"dur_us div {_KM_HOUR_US}").alias("dur_hr"), "fail"
    )
    counts = durs.groupBy("dur_hr").agg(
        F.sum("fail").cast("long").alias("n_fail"),
        F.count(F.lit(1)).cast("long").alias("n_at"),
    )
    w_all = Window.orderBy("dur_hr").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("dur_hr").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = counts.select(
        "dur_hr",
        "n_fail",
        (col("n_at") - col("n_fail")).alias("n_censored"),
        (
            F.sum("n_at").over(w_all)
            - F.coalesce(F.sum("n_at").over(w_prev), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    steps = risk.where(col("n_fail") > 0)
    ln_term = F.when(
        col("n_fail") < col("n_risk"),
        F.log(
            F.lit(1.0)
            - col("n_fail").cast("double") / col("n_risk").cast("double")
        ),
    )  # NULL (skipped by sum) on a full-failure step; survival forced 0
    w_cum = Window.orderBy("dur_hr").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return steps.select(
        "dur_hr",
        "n_risk",
        "n_fail",
        "n_censored",
        F.when(col("n_fail") == col("n_risk"), F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.sum(ln_term).over(w_cum)), 6) + F.lit(0.0)
        )
        .alias("survival"),
    )


def _survival_km_oracle() -> str:
    cap_us = KM_OBS_HOURS * _KM_HOUR_US
    return f"""
        WITH per AS (
          SELECT user_id,
                 min(epoch_us(ts)) AS first_us,
                 max(epoch_us(ts)) AS last_us,
                 min(CASE WHEN event_type = 'error'
                          THEN epoch_us(ts) END) AS err_us
          FROM events GROUP BY 1
        ),
        stats AS (SELECT max(last_us) AS t_end FROM per),
        obs AS (
          SELECT p.*, least(p.first_us + {cap_us}, s.t_end) AS obs_end
          FROM per p CROSS JOIN stats s
        ),
        durs AS (
          SELECT CASE WHEN err_us IS NOT NULL AND err_us < obs_end
                      THEN 1 ELSE 0 END AS fail,
                 (CASE WHEN err_us IS NOT NULL AND err_us < obs_end
                       THEN err_us - first_us
                       ELSE obs_end - first_us END)
                 // {_KM_HOUR_US} AS dur_hr
          FROM obs
        ),
        counts AS (
          SELECT dur_hr,
                 CAST(sum(fail) AS BIGINT) AS n_fail,
                 CAST(count(*) AS BIGINT) AS n_at
          FROM durs GROUP BY 1
        ),
        risk AS (
          SELECT dur_hr, n_fail, n_at - n_fail AS n_censored,
                 CAST(sum(n_at) OVER () - coalesce(sum(n_at) OVER (
                   ORDER BY dur_hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS n_risk
          FROM counts
        ),
        steps AS (SELECT * FROM risk WHERE n_fail > 0)
        SELECT dur_hr, n_risk, n_fail, n_censored,
               CASE WHEN n_fail = n_risk THEN 0.0
                    ELSE round(exp(sum(
                           CASE WHEN n_fail < n_risk
                                THEN ln(1.0 - CAST(n_fail AS DOUBLE)
                                            / CAST(n_risk AS DOUBLE))
                           END) OVER (
                             ORDER BY dur_hr ROWS UNBOUNDED PRECEDING
                           )), 6) + 0.0
               END AS survival
        FROM steps
    """


def _strat_topk(df: DataFrame, with_rank: bool = False) -> DataFrame:
    """The ``STRAT_K`` smallest ``_h`` per event_type — the
    ``stratified_reservoir`` order (md5 of the unique event_id, a total
    order within each stratum, so ``row_number`` is deterministic and
    the two call sites — per-batch and merge — cannot disagree on
    ties). Spark plans the rank-filter as WindowGroupLimit, capping
    every map task at k rows per stratum BEFORE the exchange."""
    w = Window.partitionBy("event_type").orderBy("_h")
    r = df.select("*", F.row_number().over(w).alias("rk")).where(
        col("rk") <= STRAT_K
    )
    return r if with_rank else r.drop("rk")


def q_stream_stratified_reservoir(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING deterministic reservoir — the SIXTH exactly-mergeable
    streaming fold (bottom-k-of-hash, joining bitmap bit_or, HLL
    register-max, theta bottom-k, CMS counter-sum, and the rank-sketch
    merge), and the first whose state is the SAMPLE ITSELF: where the
    theta member keeps bottom-k hashes to estimate a count, this keeps
    the k hash-smallest ROWS per stratum, so what survives the stream
    is the exact fixed-size sample ``stratified_reservoir`` draws in
    batch. Merge exactness: a stratum's k smallest hashes over the
    whole stream are each among the k smallest of their own
    micro-batch, so ``topk(state ∪ topk(batch)) = topk(all)`` for ANY
    batch split — the DuckDB oracle is therefore the batch row's SQL
    verbatim (shared-oracle convention: same result contract, different
    execution strategy — the ``stream_bitmap_distinct`` precedent).

    The events table streams as the same 4-chunk landing the CDC
    upsert / HLL / rank-sketch twins reuse (``maxFilesPerTrigger=1`` →
    4 real micro-batches); each batch ranks itself with the SAME
    ``_strat_topk`` the merge uses (WindowGroupLimit caps map tasks at
    k per stratum before the exchange), and the fold merges survivor
    frames. State between batches is O(|strata| · k) rows,
    never events — the fixed-memory contract that lets a production
    crawl keep a live per-source sample forever. Batch twin + the
    salted wide-cluster form: ``q_stratified_reservoir`` /
    ``operators/scale.salted_grouped_topk``."""
    res = fold_events(
        spark,
        sf_dir,
        lambda b: _strat_topk(
            b.select(
                "event_type",
                "event_id",
                "user_id",
                F.md5(col("event_id").cast("string")).alias("_h"),
            )
        ),
        lambda state, b: _strat_topk(state.unionByName(b)),
    )
    return _strat_topk(res, with_rank=True).select(
        "event_type",
        "event_id",
        "user_id",
        col("rk").cast("long").alias("rk"),
    )


# Poisson(1) inverse-CDF thresholds, computed ONCE here and consumed by
# BOTH engines (Spark lit() and the oracle's f-string interpolation see
# the identical Python double, so the replicate counts cannot diverge).
def _poisson1_cdf(n: int) -> tuple:
    out, term, acc = [], math.exp(-1.0), 0.0
    for k in range(n):
        acc += term
        out.append(acc)
        term /= k + 1
    return tuple(out)


_P1_CDF = _poisson1_cdf(7)
BOOT_B = 32  # bootstrap replicates
BOOT_Z = 1.96


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-segment mean —
    THE shuffle-free form of the bootstrap at scale (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012):
    instead of drawing B resamples (each a full-corpus shuffle), every
    row draws its OWN per-replicate multiplicity m ~ Poisson(1) from a
    hash — one pass, B partial aggregates, no resample materialized.
    Multiplicities are DETERMINISTIC (inverse-CDF over a md5-derived
    uniform, the ``weighted_sample_topk`` hash idiom), so membership of
    every replicate — not just the summary — is engine-reproducible
    and the DuckDB oracle pins the exact same draws; the CDF thresholds
    are module-level Python doubles interpolated into both engines.

    Shape: explode ×B (map-side compute, no extra scan), partial-agg
    to (type, replicate) weighted means — the ONE exchange moves
    O(|types|·B) moment tuples — then an O(|types|·B)-row fold to the
    replicate-spread SE. The point estimate is the plain per-type mean
    on its own, NARROWER scan (2 columns vs the replicate branch's 3 —
    a second table pass, but 1/B-th of the branch that dominates). Float discipline: replicate
    means and the base mean round to 6dp, SE rounds to 6dp, and the CI
    derives from the ROUNDED components so both engines do identical
    literal arithmetic. Poisson truncates at m=7 (P ≈ 8e-5 of draws
    cap, identically on both sides — a bias of the estimator's
    DEFINITION here, not an engine divergence)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    r = F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("r")
    rep = ev.select("*", r)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        col("event_id").cast("string"),
                        col("r").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    m = F.lit(7)
    for k in range(6, -1, -1):
        m = F.when(u < F.lit(_P1_CDF[k]), F.lit(k)).otherwise(m)
    rep_means = (
        rep.select("event_type", "r", m.alias("m"), "value")
        .groupBy("event_type", "r")
        .agg(
            F.round(
                F.sum(col("m") * col("value")) / F.sum(col("m")), 6
            ).alias("rep_mean")
        )
    )
    spread = rep_means.groupBy("event_type").agg(
        (F.round(F.stddev_samp("rep_mean"), 6) + F.lit(0.0)).alias(
            "boot_se"
        )
    )
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.avg("value"), 6).alias("mean_value"),
    )
    return base.join(F.broadcast(spread), "event_type").select(
        "event_type",
        "n_events",
        "mean_value",
        "boot_se",
        F.round(
            col("mean_value") - F.lit(BOOT_Z) * col("boot_se"), 6
        ).alias("ci_lo"),
        F.round(
            col("mean_value") + F.lit(BOOT_Z) * col("boot_se"), 6
        ).alias("ci_hi"),
    )


def _bootstrap_ci_oracle() -> str:
    cases = " ".join(
        f"WHEN u < {_P1_CDF[k]!r} THEN {k}" for k in range(7)
    )
    return f"""
        WITH rep AS (
          SELECT event_type, value, r,
                 CAST(CAST(concat('0x', substr(md5(
                        CAST(event_id AS VARCHAR) || ':' ||
                        CAST(r AS VARCHAR)), 1, 8))
                      AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
          FROM events
          CROSS JOIN (SELECT unnest(generate_series(0, {BOOT_B - 1}))
                      AS r) reps
        ),
        rep_means AS (
          SELECT event_type, r,
                 round(sum((CASE {cases} ELSE 7 END) * value)
                       / sum(CASE {cases} ELSE 7 END), 6) AS rep_mean
          FROM rep GROUP BY event_type, r
        ),
        spread AS (
          SELECT event_type,
                 round(stddev_samp(rep_mean), 6) + 0.0 AS boot_se
          FROM rep_means GROUP BY event_type
        ),
        base AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_events,
                 round(avg(value), 6) AS mean_value
          FROM events GROUP BY event_type
        )
        SELECT event_type, n_events, mean_value, boot_se,
               round(mean_value - {BOOT_Z!r} * boot_se, 6) AS ci_lo,
               round(mean_value + {BOOT_Z!r} * boot_se, 6) AS ci_hi
        FROM base JOIN spread USING (event_type)
    """


def q_stream_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Poisson-bootstrap CI — the SEVENTH exactly-mergeable
    streaming fold (counter-sum over bootstrap moments, next to bitmap
    bit_or, HLL register-max, theta bottom-k, CMS counter-sum, the
    rank-sketch merge, and the reservoir bottom-k): per batch, each
    (type, replicate) contributes partial moment sums (Σ m·v, Σ m) and
    each type its base sums (Σ v, n) — ALL plain additions, so folding
    per-batch partials across ANY batch split equals the single-pass
    sums and the batch twin's oracle pins the stream verbatim (the
    round-6 float contract absorbs the fold's summation order exactly
    as it absorbs partition count). What the stream maintains that no
    other fold member does: a live STANDARD ERROR — uncertainty for an
    unbounded metric stream in O(|types|·B) moment-row state, never
    event rows. Replicate draws are the batch twin's hash-deterministic
    Poisson(1) multiplicities, so re-chunking the corpus cannot change
    any subject's draw — only WHERE its addend folds in.

    Events stream as the shared 4-chunk landing (``maxFilesPerTrigger=1``
    → 4 real micro-batches); the SE/CI readout runs post-fold on the
    bounded state frame with the SAME rounded arithmetic as
    ``q_bootstrap_ci``. Batch twin: ``q_bootstrap_ci``."""
    def _partials(batch_df: DataFrame) -> DataFrame:
        r = F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("r")
        rep = batch_df.select("event_type", "event_id", "value", r)
        u = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            col("event_id").cast("string"),
                            col("r").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            / F.lit(4294967296.0)
        )
        m = F.lit(7)
        for k in range(6, -1, -1):
            m = F.when(u < F.lit(_P1_CDF[k]), F.lit(k)).otherwise(m)
        reps = (
            rep.select("event_type", "r", m.alias("m"), "value")
            .groupBy("event_type", "r")
            .agg(
                F.sum(col("m") * col("value")).alias("s_mv"),
                F.sum("m").cast("long").alias("s_m"),
                F.lit(0).cast("long").alias("n"),
            )
        )
        # the base sums ride as replicate -1: s_mv = sum(value),
        # s_m = count(value) (avg's NULL-skipping denominator) and n =
        # count(*) (the n_events output)
        base = batch_df.groupBy("event_type").agg(
            F.lit(-1).alias("r"),
            F.sum("value").alias("s_mv"),
            F.count("value").cast("long").alias("s_m"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        return reps.unionByName(base)

    def _add(state: DataFrame, p: DataFrame) -> DataFrame:
        return (
            state.unionByName(p)
            .groupBy("event_type", "r")
            .agg(
                F.sum("s_mv").alias("s_mv"),
                F.sum("s_m").cast("long").alias("s_m"),
                F.sum("n").cast("long").alias("n"),
            )
        )

    sums = fold_events(spark, sf_dir, _partials, _add)
    spread = (
        sums.where(col("r") >= 0)
        .select(
            "event_type",
            F.round(col("s_mv") / col("s_m"), 6).alias("rep_mean"),
        )
        .groupBy("event_type")
        .agg(
            (F.round(F.stddev_samp("rep_mean"), 6) + F.lit(0.0)).alias(
                "boot_se"
            )
        )
    )
    base = sums.where(col("r") == -1).select(
        "event_type",
        col("n").alias("n_events"),
        F.round(col("s_mv") / col("s_m"), 6).alias("mean_value"),
    )
    return base.join(F.broadcast(spread), "event_type").select(
        "event_type",
        "n_events",
        "mean_value",
        "boot_se",
        F.round(
            col("mean_value") - F.lit(BOOT_Z) * col("boot_se"), 6
        ).alias("ci_lo"),
        F.round(
            col("mean_value") + F.lit(BOOT_Z) * col("boot_se"), 6
        ).alias("ci_hi"),
    )


WP_PS = (0.5, 0.9, 0.99)


def q_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOKEN-MASS percentiles of document length — the exact
    WEIGHTED quantile (inverted-CDF convention: the smallest length L
    with Σ weight[len ≤ L] ≥ p·W), weighting each document by its token
    count. The curation statistic the unweighted rows can't give:
    `percentile_agg` answers "the median DOCUMENT is this long";
    this answers "half the corpus' TOKENS live in documents shorter
    than this" — the number a truncation/packing threshold actually
    needs (a few giant docs dominate token mass long before they
    dominate doc count). Completes the registry's quantile spectrum on
    the weighted axis: exact-unweighted (percentile_agg), mergeable
    sketch (grouped_percentile_approx), now exact-weighted.

    Determinism is INTEGER, not rounded-float: weights are token
    counts, the cumulative and total weights are integer window sums
    over the total (n_chars, doc_id) order, and the p·W comparison is
    one exact double product per group — no summation-order ULP
    anywhere (documented envelope: exact while W < 2^53). Scale shape:
    one per-source window sort (the inherent cost of EXACT weighted
    quantiles — the mergeable alternative is the sketch row above) and
    a per-source fold; weights come from the same pruned scan, so the
    corpus is read once."""
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "source", "doc_id", "n_chars", _token_weight().alias("wt")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("n_chars", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("source")
    frame = base.select(
        "source",
        "n_chars",
        "wt",
        F.sum("wt").over(w_cum).alias("cumw"),
        F.sum("wt").over(w_all).alias("tot"),
    )
    aggs = [
        F.min(
            F.when(
                col("cumw") >= F.lit(p) * col("tot"), col("n_chars")
            )
        ).alias(f"len_p{int(p * 100)}")
        for p in WP_PS
    ]
    return frame.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("wt").cast("long").alias("w_total"),
        *aggs,
    )


def _weighted_percentile_oracle() -> str:
    cols = ",\n               ".join(
        f"min(CASE WHEN cumw >= {p!r} * tot THEN n_chars END)"
        f" AS len_p{int(p * 100)}"
        for p in WP_PS
    )
    return f"""
        WITH d AS (
          SELECT source, doc_id, n_chars,
                 {_SEL_WEIGHT_SQL} AS wt
          FROM documents
        ),
        f AS (
          SELECT source, n_chars, wt,
                 sum(wt) OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id
                   ROWS UNBOUNDED PRECEDING
                 ) AS cumw,
                 sum(wt) OVER (PARTITION BY source) AS tot
          FROM d
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(wt) AS BIGINT) AS w_total,
               {cols}
        FROM f GROUP BY source
    """


def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the lang-ID scoring signal as an is-English
    classifier — the evaluation gate the classifier family lacked
    (``classifier_train_steps`` trains, ``quality_classifier_filter``
    infers, ``ndcg_bsq_eval`` grades retrieval; nothing graded a
    CLASSIFIER). Mann–Whitney form with FULL tie correction:
    AUC = [Σ_s p_s·(2·cum_neg_below(s) + n_s)] / (2·P·N) — the
    mid-rank identity — where s is the English-stopword-fraction score
    in integer PPM (integer ``div``, the survival_km discipline), so
    every quantity up to the final division is exact integer
    arithmetic on both engines and ties (heavy at ppm granularity)
    are handled by construction, not by float rank averaging. The
    final division is one double op on identical integers; a
    single-class corpus (P or N zero) is CASE-guarded to NULL on both
    engines (Spark IEEE x/0=Inf vs DuckDB NULL — the ab_test_zstat
    degenerate-fixture lesson). On THIS synthetic corpus the signal
    carries no real separation (AUC ≈ 0.5) — the operator is the
    deliverable, the fixture exercises it (the benford_first_digit
    convention).

    Scale shape: one corpus pass rolls up to the SCORE GRID — bounded
    by ppm granularity (≤ 1e6 + 1 rows), independent of corpus size —
    and the rank window + final fold run on that bounded frame (the
    survival_km posture). Scorer twin: ``operators/text.
    stopword_count_of_tokens`` (the lang_id scorer), SQL side via
    ``pipeline._dk_stop_count`` — the established parity pair."""
    from interop_spark.operators.text import stopword_count_of_tokens

    d = load(spark, sf_dir, "documents").where(col("text").isNotNull())
    toks = tx_tokens(col("text"))
    base = d.select(
        F.when(col("lang") == "en", 1).otherwise(0).alias("y"),
        stopword_count_of_tokens(toks, "en").alias("sw"),
        F.greatest(F.size(toks), F.lit(1)).alias("nt"),
    ).select("y", F.expr("(sw * 1000000) div nt").alias("s"))
    grid = base.groupBy("s").agg(
        F.sum("y").cast("long").alias("p_s"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_s"),
    )
    w_prev = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = grid.select(
        "p_s",
        "n_s",
        F.coalesce(F.sum("n_s").over(w_prev), F.lit(0)).alias("cum_neg"),
    )
    return r.agg(
        F.sum("p_s").cast("long").alias("n_pos"),
        F.sum("n_s").cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
        F.when(
            (F.sum("p_s") > 0) & (F.sum("n_s") > 0),
            F.round(
                F.sum(
                    col("p_s") * (F.lit(2) * col("cum_neg") + col("n_s"))
                ).cast("double")
                / (
                    F.lit(2.0)
                    * F.sum("p_s").cast("double")
                    * F.sum("n_s").cast("double")
                ),
                6,
            )
            + F.lit(0.0),
        ).alias("auc"),
    )


def _classifier_auc_oracle() -> str:
    from interop_spark.queries.pipeline import _dk_stop_count

    sw = _dk_stop_count("en")
    return f"""
        WITH t AS (
          SELECT lang, {_SEL_TOKENS} AS toks
          FROM documents WHERE text IS NOT NULL
        ),
        d AS (
          SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                 ({sw} * 1000000) // greatest(len(toks), 1) AS s
          FROM t
        ),
        grid AS (
          SELECT s, CAST(sum(y) AS BIGINT) AS p_s,
                 CAST(count(*) - sum(y) AS BIGINT) AS n_s
          FROM d GROUP BY 1
        ),
        r AS (
          SELECT p_s, n_s,
                 coalesce(sum(n_s) OVER (
                   ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS cum_neg
          FROM grid
        )
        SELECT CAST(sum(p_s) AS BIGINT) AS n_pos,
               CAST(sum(n_s) AS BIGINT) AS n_neg,
               CAST(count(*) AS BIGINT) AS n_scores,
               CASE WHEN sum(p_s) > 0 AND sum(n_s) > 0
                    THEN round(CAST(sum(p_s * (2 * cum_neg + n_s))
                                    AS DOUBLE)
                               / (2.0 * CAST(sum(p_s) AS DOUBLE)
                                      * CAST(sum(n_s) AS DOUBLE)), 6)
                         + 0.0
               END AS auc
        FROM r
    """


QUERIES = {
    "column_profile": q_column_profile,
    "value_histogram": q_value_histogram,
    "interarrival_quantiles": q_interarrival_quantiles,
    "cohort_ltv_curve": q_cohort_ltv_curve,
    "benford_first_digit": q_benford_first_digit,
    "funnel_time_to_convert": q_funnel_time_to_convert,
    "daily_value_trend": q_daily_value_trend,
    "survival_km": q_survival_km,
    "stream_stratified_reservoir": q_stream_stratified_reservoir,
    "bootstrap_ci": q_bootstrap_ci,
    "stream_bootstrap_ci": q_stream_bootstrap_ci,
    "weighted_percentile": q_weighted_percentile,
    "classifier_auc": q_classifier_auc,
}

# the streaming folds are execution-strategy changes with an identical
# result contract, so each pins against its batch twin's SQL verbatim
ORACLE = {
    "column_profile": _column_profile_oracle(),
    "value_histogram": _value_histogram_oracle(),
    "interarrival_quantiles": _interarrival_oracle(),
    "cohort_ltv_curve": _cohort_ltv_oracle(),
    "benford_first_digit": _benford_oracle(),
    "funnel_time_to_convert": _funnel_ttc_oracle(),
    "daily_value_trend": _daily_value_trend_oracle(),
    "survival_km": _survival_km_oracle(),
    "stream_stratified_reservoir": _stratified_reservoir_oracle(),
    "bootstrap_ci": _bootstrap_ci_oracle(),
    "stream_bootstrap_ci": _bootstrap_ci_oracle(),
    "weighted_percentile": _weighted_percentile_oracle(),
    "classifier_auc": _classifier_auc_oracle(),
}
