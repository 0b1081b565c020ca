"""Engine-exact HyperLogLog core (round-13), shared by the batch query
(`queries/selection_q.py:hll_distinct_estimate`) and the streaming
register-merge twin (`queries/temporal_q.py:stream_hll_users`).

Determinism contract (the CountMin/Bloom trick applied to cardinality):
the hash is a seeded md5 slice, ranks come from integer bit-length
(``length(bin(w))`` — no float log), and the harmonic sum is a sum of
dyadic rationals (each ``2^-reg`` has a single mantissa bit, reg ≤ 41,
≤256 terms → exact in a 53-bit double under ANY summation order), so
the estimate is oracle-pinned rather than statistically close. The
small-range linear-counting correction is deliberately omitted (ln is
not exact-rounded cross-engine); production estimators layer
LogLog-Beta on top.

Scale shape: one projection + a ≤2^p-key max aggregate — partial max
collapses every map task to at most m rows. Registers are MERGEABLE
(per-bucket max is associative/commutative), which is what makes the
sketch a streaming/foreachBatch citizen: merging per-micro-batch
registers converges to the single-pass registers for any batch split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

HLL_P = 8  # 2^8 = 256 registers
HLL_M = 1 << HLL_P
HLL_WBITS = 40  # rank bits after the register index (48-bit md5 slice)
# Flajolet et al. 2007 bias constant for m >= 128, computed once so the
# Spark literal and the oracle literal are the same double
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)


def hll_registers(df: DataFrame, key: Column) -> DataFrame:
    """(bucket, reg) register frame for the keys in ``df`` — the whole
    sketch, ≤``HLL_M`` rows. ``key`` is any Column; it is cast to
    string before hashing so integer and string keys share the
    derivation."""
    h = F.conv(
        F.substring(F.md5(key.cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    slotted = df.select(
        (h % HLL_M).alias("bucket"),
        (h / F.lit(HLL_M)).cast("bigint").alias("tail"),
    )
    return (
        slotted.select(
            "bucket",
            F.when(col("tail") == 0, F.lit(HLL_WBITS + 1))
            .otherwise(F.lit(HLL_WBITS) - F.length(F.bin(col("tail"))) + 1)
            .cast("int")
            .alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two register frames into one (per-bucket max) — the
    associative merge a foreachBatch accumulator or a shard-combiner
    applies."""
    return a.unionByName(b).groupBy("bucket").agg(
        F.max("reg").alias("reg")
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """One-row (hll_estimate, n_empty_buckets) from a register frame;
    empty buckets contribute 2^0 to the harmonic sum per the raw
    Flajolet estimator."""
    sums = regs.agg(
        F.sum(F.pow(F.lit(2.0), -col("reg"))).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    return sums.select(
        F.round(
            F.lit(HLL_ALPHA)
            * F.lit(float(HLL_M * HLL_M))
            / (col("s_present") + (F.lit(HLL_M) - col("n_present"))),
            6,
        ).alias("hll_estimate"),
        (F.lit(HLL_M) - col("n_present")).cast("long").alias(
            "n_empty_buckets"
        ),
    )


# ---------------------------------------------------------------------------
# Mergeable rank/quantile sketch (round-14): hash-level sampling.
#
# The streaming/unbounded twin of `domain_quantile_filter`'s exact
# histogram: that query is exact only because its scores live in a
# bounded integer range; this sketch estimates ranks/quantiles of an
# UNBOUNDED value column in O(capacity) state. Each item's LEVEL is the
# leading-zero count of a seeded 32-bit md5 slice of its unique key
# (P[level >= t] = 2^-t — the distinct-sampling / bottom-k discipline,
# Gibbons VLDB 2001; Cohen & Kaplan 2007), and the sketch keeps exactly
# the items at level >= T, where T is the smallest threshold whose
# survivor count fits the capacity. Every survivor at threshold T
# represents 2^T items, so est_rank(v) = 2^T * |{kept <= v}|.
#
# Determinism contract (the HLL discipline applied to ranks): the level
# is integer bit-length arithmetic on an md5 slice — no randomness, no
# floats — and T is a pure function of the LEVEL HISTOGRAM, so the kept
# set is a pure function of the data SET. That makes the sketch
# (a) oracle-exact (DuckDB replays the same md5/bin/shift integers) and
# (b) PROVABLY mergeable: histograms add; T is monotone under union
# (counts only grow), so each batch's kept set at its own T_b is a
# superset of the merged kept set at T_m >= T_b, and union-then-filter
# equals the one-pass sketch EXACTLY — not just in distribution.
#
# Scale shape: the build is one narrow projection + a <=33-key partial-
# aggregated histogram; the survivor filter is a second scan-side
# projection against a broadcast 1-row threshold (at 100 TB you rescan
# 2 pruned columns rather than cache the corpus). Estimation runs on
# the capacity-bounded survivor frame only.
# ---------------------------------------------------------------------------

RS_HBITS = 32  # hash width: level in [0, 32]
RS_CAPACITY = 128  # max survivors the sketch retains


def rank_sketch_items(df: DataFrame, value: Column, key: Column) -> DataFrame:
    """(v, level) item frame: ``value`` carried verbatim (the sketch
    never does arithmetic on it — only ordering), level = leading-zero
    count of the 32-bit seeded hash of ``key`` (unique per item)."""
    h = F.conv(
        F.substring(F.md5(key.cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return df.select(
        value.alias("v"),
        F.when(h == 0, F.lit(RS_HBITS))
        .otherwise(F.lit(RS_HBITS) - F.length(F.bin(h)))
        .cast("int")
        .alias("level"),
    )


def rank_sketch_hist(items: DataFrame) -> DataFrame:
    """(level, cnt) level histogram — <=33 rows, mergeable by sum."""
    return items.groupBy("level").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def rank_sketch_threshold(hist: DataFrame, capacity: int = RS_CAPACITY) -> DataFrame:
    """One-row (t) frame: the SMALLEST t in [0, 33] whose survivor
    count sum(cnt | level >= t) fits the capacity. Evaluated over the
    full candidate range (not just observed levels) so that when the
    whole input fits, t = 0 and est_rank is exact with weight 1."""
    spark = hist.sparkSession
    ts = spark.range(0, RS_HBITS + 2).select(col("id").cast("int").alias("t"))
    tails = (
        ts.join(F.broadcast(hist), col("level") >= col("t"), "left")
        .groupBy("t")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("tail"))
    )
    return tails.where(col("tail") <= capacity).agg(
        F.min("t").cast("int").alias("t")
    )


def rank_sketch_build(
    df: DataFrame, value: Column, key: Column, capacity: int = RS_CAPACITY
) -> DataFrame:
    """The sketch as ONE mergeable frame of tagged rows:
    ``('h', level, NULL, cnt)`` histogram rows plus
    ``('k', level, v, 1)`` survivor rows at the build's threshold.

    The <=33-row histogram is localCheckpoint-ed (the kmeans/HLL
    discipline) so the threshold derivation and the histogram output
    rows read the materialized frame instead of re-scanning the corpus
    — the whole build costs exactly TWO pruned corpus scans (histogram
    pass + survivor filter)."""
    items = rank_sketch_items(df, value, key)
    hist = rank_sketch_hist(items).localCheckpoint()
    thr = rank_sketch_threshold(hist, capacity)
    kept = items.crossJoin(F.broadcast(thr)).where(
        col("level") >= col("t")
    )
    return hist.select(
        F.lit("h").alias("kind"), "level",
        F.lit(None).cast("double").alias("v"), "cnt",
    ).unionByName(
        kept.select(
            F.lit("k").alias("kind"), "level", "v",
            F.lit(1).cast("long").alias("cnt"),
        )
    )


def rank_sketch_merge(
    a: DataFrame, b: DataFrame, capacity: int = RS_CAPACITY
) -> DataFrame:
    """Merge two sketch frames: histograms ADD per level; the merged
    threshold is recomputed from the merged histogram and the unioned
    survivors re-filtered to it — provably equal to the one-pass sketch
    of the union (T is monotone under union, see module comment)."""
    u = a.unionByName(b)
    hist = (
        u.where(col("kind") == "h")
        .groupBy("level")
        .agg(F.sum("cnt").alias("cnt"))
    )
    thr = rank_sketch_threshold(hist, capacity)
    kept = (
        u.where(col("kind") == "k")
        .crossJoin(F.broadcast(thr))
        .where(col("level") >= col("t"))
    )
    return hist.select(
        F.lit("h").alias("kind"), "level",
        F.lit(None).cast("double").alias("v"), "cnt",
    ).unionByName(kept.select("kind", "level", "v", "cnt"))


def _order_key(v):
    """Python sort key reproducing Spark ASC NULLS FIRST with NaN
    sorted LAST (Spark's total order over doubles)."""
    import math

    if v is None:
        return (0, 0.0)
    if isinstance(v, float) and math.isnan(v):
        return (2, 0.0)
    return (1, v)


def _sql_lit(v, typ: str) -> str | None:
    """SQL literal text for a driver-side panel value, or None when the
    value has no exact SQL form (the caller then falls back to the
    per-element ``F.lit`` path). ``repr(double) + 'D'`` round-trips
    bit-exactly (similarity._dbl_sql); integral and string literals are
    exact by construction."""
    import math

    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ == "string" and isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if typ == "double" and isinstance(v, float):
        return repr(v) + "D" if math.isfinite(v) else None
    if typ in ("tinyint", "smallint", "int", "bigint") and isinstance(
        v, int
    ):
        return f"CAST({v} AS {typ})"
    return None


def panel_df(spark, rows, fields):
    """Bounded driver-side result panel as ONE ``F.expr`` parse —
    ``inline(array(named_struct(...), ...))`` — instead of per-element
    py4j ``F.lit`` construction (~6 py4j round-trips per cell made the
    literal build itself the dominant construction cost; the r19
    PQ-codebook lesson). ``fields`` is [(name, spark_sql_type_text)];
    falls back to the F.lit path when any value lacks an exact SQL
    literal form. The panel is one partition, so a sort over it needs
    no range exchange."""
    texts = []
    for row in rows:
        parts = []
        for (name, typ), v in zip(fields, row):
            t = _sql_lit(v, typ)
            if t is None:
                texts = None
                break
            parts.append(f"'{name}', {t}")
        if texts is None:
            break
        texts.append("named_struct(" + ", ".join(parts) + ")")
    if texts is not None:
        return spark.range(1, numPartitions=1).select(
            F.expr("inline(array(" + ", ".join(texts) + "))")
        )
    return (
        spark.range(1, numPartitions=1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            *[
                                (
                                    F.lit(v)
                                    if v is not None
                                    else F.lit(None)
                                )
                                .cast(typ)
                                .alias(name)
                                for (name, typ), v in zip(fields, row)
                            ]
                        )
                        for row in rows
                    ]
                )
            ).alias("_r")
        )
        .select("_r.*")
    )


def _threshold_py(hist_rows, capacity: int) -> int:
    """Driver-side twin of :func:`rank_sketch_threshold`: the smallest
    t in [0, RS_HBITS+1] whose survivor tail fits the capacity — pure
    integer arithmetic, term-for-term the Spark aggregation (the tail
    at t = RS_HBITS+1 is 0, so a qualifying t always exists)."""
    for t in range(0, RS_HBITS + 2):
        if sum(c for lvl, c in hist_rows if lvl >= t) <= capacity:
            return t
    return RS_HBITS + 1


def _cum_ranks_py(kept_vals, n, n_kept):
    """(v, ck, est_rank) rows: distinct survivor values in Spark's ASC
    order with cumulative counts — ``est_rank = (n * ck) div n_kept``
    mirrors Spark's ``div`` exactly on these non-negative longs
    (Python ``//``), and is None when n is None (NULL propagation)."""
    from collections import Counter

    groups = Counter(kept_vals)
    cum = []
    ck = 0
    for v in sorted(groups, key=_order_key):
        ck += groups[v]
        er = (n * ck) // n_kept if n is not None else None
        cum.append((v, ck, er))
    return cum


def rank_sketch_quantiles(
    sketch: DataFrame, qs: list[tuple[str, int, int]] | None = None
) -> DataFrame:
    """Quantile estimates off a sketch frame. The survivors are a
    deterministic uniform sample of the input (each item kept iff its
    hash level >= T — coordinated/bottom-k sampling), so the estimate
    SELF-NORMALIZES: quantile q is the sample quantile, i.e. the
    smallest survivor v with ``|kept <= v| * den >= num * n_kept`` —
    an ALL-INTEGER comparison both engines evaluate identically, and
    one that cancels the tail-count bias a raw ``2^T * count`` scale-up
    carries (the per-level population only EXPECTS n/2^T members).
    ``est_rank`` reports the implied corpus rank ``(n * ck) div
    n_kept``. Emits (quantile, est_value, est_rank, n_total,
    threshold_level, n_kept); always selectable — the max survivor
    qualifies for every q <= 1.

    The sketch frame is capacity-bounded BY CONSTRUCTION (≤ capacity
    survivors + ≤ 33 histogram rows), so the estimation algebra runs
    DRIVER-side (r20 optimization round; the theta pair-algebra
    pattern): ONE collect materializes the build's corpus scans, the
    threshold / totals / cumulative-rank / pick arithmetic — all exact
    integers plus the survivor values carried verbatim — runs in
    Python term-for-term the old Spark aggregations, and the result is
    emitted as a literal panel. This replaces a checkpoint plus ~8
    AQE-materialized bounded stages per query with one bounded collect.
    NOT result caching: the collect recomputes from the input on every
    call."""
    qs = qs or [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]
    spark = sketch.sparkSession
    v_type = sketch.schema["v"].dataType.simpleString()
    rows = sketch.select("kind", "level", "v", "cnt").collect()
    hist_rows = [(r[1], r[3]) for r in rows if r[0] == "h"]
    kept_vals = [r[2] for r in rows if r[0] == "k"]
    t = _threshold_py(hist_rows, RS_CAPACITY)
    n = sum(c for _, c in hist_rows) if hist_rows else None
    n_kept = len(kept_vals)
    cum = _cum_ranks_py(kept_vals, n, n_kept)
    out_rows = []
    for label, num, den in qs:
        qual = [(v, ck, er) for v, ck, er in cum if ck * den >= n_kept * num]
        ev = min(
            (v for v, _, _ in qual if v is not None),
            key=_order_key,
            default=None,
        )
        er = min((e for _, _, e in qual if e is not None), default=None)
        out_rows.append((label, ev, er, n, t, n_kept))
    return panel_df(
        spark,
        out_rows,
        [
            ("quantile", "string"),
            ("est_value", v_type),
            ("est_rank", "bigint"),
            ("n_total", "bigint"),
            ("threshold_level", "int"),
            ("n_kept", "bigint"),
        ],
    )


def rank_sketch_group_quantile(
    df: DataFrame,
    group: Column,
    value: Column,
    key: Column,
    capacity: int = RS_CAPACITY,
    num: int = 9,
    den: int = 10,
) -> DataFrame:
    """PER-GROUP quantile estimation — the grouped form of the rank
    sketch, i.e. per-domain thresholds on an UNBOUNDED score column in
    O(groups * capacity) state (what `domain_quantile_filter`'s exact
    histogram cannot give once scores leave a bounded integer range).
    Each group runs its own hash-level sample: per-(group, level)
    histogram, per-group threshold T_g (smallest t whose survivor
    count fits the capacity), survivors at level >= T_g, and the
    sample quantile via the same all-integer comparison as
    :func:`rank_sketch_quantiles`. Emits one row per group:
    (g, est_value, est_rank, n_total, threshold_level, n_kept).

    Scale shape: corpus-side cost is ONE (group, level) partial-
    aggregated histogram (<=33 rows per group) plus the survivor
    filter against the broadcast per-group thresholds — unchanged. The
    post-scan algebra (candidate grid, per-group thresholds,
    cumulative ranks, quantile picks — all groups×capacity-bounded by
    construction) runs DRIVER-side as of r20 (the theta pair-algebra
    pattern): the histogram collect feeds exact per-group integer
    threshold arithmetic, the thresholds re-enter the survivor filter
    as a broadcast literal frame, the survivor collect feeds the
    pick arithmetic, and the result is a literal panel. Two bounded
    collects replace two checkpoints plus ~6 AQE-materialized bounded
    stages. NOT result caching: both collects recompute from the
    input on every call."""
    h = F.conv(
        F.substring(F.md5(key.cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    items = df.select(
        group.alias("g"),
        value.alias("v"),
        F.when(h == 0, F.lit(RS_HBITS))
        .otherwise(F.lit(RS_HBITS) - F.length(F.bin(h)))
        .cast("int")
        .alias("level"),
    )
    spark = df.sparkSession
    g_type = items.schema["g"].dataType.simpleString()
    v_type = items.schema["v"].dataType.simpleString()
    empty_fields = [
        ("g", g_type),
        ("est_value", v_type),
        ("est_rank", "bigint"),
        ("n_total", "bigint"),
        ("threshold_level", "int"),
        ("n_kept", "bigint"),
    ]

    def _empty():
        return spark.range(0).select(
            *[
                F.lit(None).cast(typ).alias(name)
                for name, typ in empty_fields
            ]
        )

    # corpus scan 1: the (group, level) histogram (<=33 rows/group)
    hist_rows = (
        items.groupBy("g", "level")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    )
    by_g: dict = {}
    for r in hist_rows:
        by_g.setdefault(r[0], []).append((r[1], r[2]))
    thr_py = {g: _threshold_py(rows, capacity) for g, rows in by_g.items()}
    n_py = {g: sum(c for _, c in rows) for g, rows in by_g.items()}
    if not thr_py:  # degenerate empty corpus: schema-matched empty
        return _empty()
    # per-group thresholds re-enter as a broadcast literal frame
    thr_lit = panel_df(
        spark,
        sorted(thr_py.items(), key=lambda kv: str(kv[0])),
        [("g", g_type), ("t", "int")],
    )
    # corpus scan 2: the survivor filter (groups × capacity rows)
    kept_rows = (
        items.join(F.broadcast(thr_lit), "g")
        .where(col("level") >= col("t"))
        .select("g", "v")
        .collect()
    )
    kept_by_g: dict = {}
    for r in kept_rows:
        kept_by_g.setdefault(r[0], []).append(r[1])
    out_rows = []
    for g in sorted(kept_by_g, key=str):
        vals = kept_by_g[g]
        n_kept = len(vals)
        cum = _cum_ranks_py(vals, n_py[g], n_kept)
        qual = [(v, ck, er) for v, ck, er in cum if ck * den >= n_kept * num]
        if not qual:  # a group where nothing qualifies drops out
            continue
        ev = min(
            (v for v, _, _ in qual if v is not None),
            key=_order_key,
            default=None,
        )
        er = min((e for _, _, e in qual if e is not None), default=None)
        out_rows.append((g, ev, er, n_py[g], thr_py[g], n_kept))
    if not out_rows:
        return _empty()
    return panel_df(spark, out_rows, empty_fields)
