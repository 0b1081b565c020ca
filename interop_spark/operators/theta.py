"""Theta / KMV (k-minimum-values) distinct sketch with set operations
(round-15b). Public method: Bar-Yossef et al. 2002 (counting distinct
elements via the k-th minimum hash); the theta-sketch union/intersect
algebra is the Apache DataSketches formulation (datasketches.apache.org
/docs/Theta/ThetaSketchFramework.html — public docs; no code reused).

Why this sketch exists next to HLL (`operators/sketch.py`): HLL
registers estimate |A|, and registers MERGE, so |A ∪ B| is free — but
HLL cannot INTERSECT (registers carry no membership). A KMV sketch
keeps the k smallest HASH VALUES themselves, so for any pair of
sketches the keys below min(theta_a, theta_b) form a coordinated
uniform sample of A ∪ B, and |A ∩ B| / |A ∪ B| estimates drop out of
plain set algebra on two k-row frames. That is the sketch a 100 TB
corpus runs to ask "how much does source A's vocabulary overlap
source B's" without ever joining the corpora.

Determinism contract (the HLL/CountMin/rank-sketch discipline): the
hash is the 32-bit md5 slice both engines compute identically, the
estimator is INTEGER floor division (``(cnt * 2^32) div theta`` — no
float reciprocal), and the kept set is a pure function of the data set
— so every estimate is oracle-pinned, not statistically close.

Scale shape: the corpus-side cost is ONE distinct projection + a
<=33-key level histogram (partial-aggregated, the rank-sketch
prefilter) + a survivor filter against broadcast per-group thresholds;
the exact bottom-k sort runs on the survivor frame only (expected
~2k rows per group — the histogram guarantees >= k survivors and
level granularity bounds the expectation at < 2 tail doublings), never
on the group's full key set. All pair algebra runs on k-bounded
frames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

THETA_HBITS = 32
THETA_MAXH = 1 << THETA_HBITS  # exclusive hash-space bound
THETA_K = 64


def theta_items(df: DataFrame, group: Column, key: Column) -> DataFrame:
    """Distinct (g, k, h) item frame: one row per distinct key per
    group, h = the 32-bit md5 slice (the engine's shared seeded-hash
    derivation — `operators/sketch.py:rank_sketch_items` uses the same
    slice, so the two sketches sample COORDINATED, a property KMV
    set-ops rely on)."""
    items = df.select(group.alias("g"), key.cast("string").alias("k"))
    return items.distinct().withColumn(
        "h",
        F.conv(F.substring(F.md5(col("k")), 1, 8), 16, 10).cast("bigint"),
    )


def theta_sketch(
    items: DataFrame, k: int = THETA_K
) -> tuple[DataFrame, DataFrame]:
    """Per-group bottom-k sketch from a (g, k, h) item frame. Returns
    ``(kept, theta)``: ``kept`` holds the <= k smallest-hash rows per
    group (ties broken by key — md5 collisions in 32 bits are possible
    and must order identically in both engines), ``theta`` one row per
    group with the EXCLUSIVE threshold: the k-th smallest hash when the
    group saturates the sketch, else 2^32 (exact mode — the whole key
    set fits, estimates degrade to exact counts).

    The bottom-k sort never touches the full per-group key set: the
    level histogram (<= 33 keys per group, partial-aggregated) yields
    the LARGEST level threshold t whose tail count still covers k, and
    only the tail survivors (>= k by construction, ~2k expected) reach
    the window sort. This is the same two-scan discipline as
    `rank_sketch_build`, reversed: that sketch needs any
    capacity-bounded sample, this one needs the exact k minima.

    Both frames are lazy and construction fires no Spark job; a caller
    that reads ``kept`` more than once checkpoints it (``fold_events``
    does, as the next state).
    """
    from pyspark.sql.window import Window

    lev = items.withColumn(
        "level",
        F.when(col("h") == 0, F.lit(THETA_HBITS))
        .otherwise(F.lit(THETA_HBITS) - F.length(F.bin(col("h"))))
        .cast("int"),
    )
    hist = lev.groupBy("g", "level").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # tail(level) = survivors at or above that level — a running sum
    # down the <=33-row per-group histogram; the threshold is the
    # LARGEST observed level whose tail still holds >= k items (absent
    # when the whole group is smaller than k — keep everything, sketch
    # is exact). The max-with-tail->=k is always an observed level, so
    # the histogram walk loses nothing vs a dense candidate grid, and
    # the window reuses the histogram's (g) partitioning — no grid
    # join, no extra exchange.
    tails = hist.withColumn(
        "tail",
        F.sum("cnt").over(
            Window.partitionBy("g")
            .orderBy(col("level").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    thr = (
        tails.where(col("tail") >= k)
        .groupBy("g")
        .agg(F.max("level").cast("int").alias("t"))
    )
    survivors = lev.join(F.broadcast(thr), "g", "left").where(
        col("t").isNull() | (col("level") >= col("t"))
    )
    ranked = survivors.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("g").orderBy("h", "k")),
    )
    # kept is <= k rows per group BY CONSTRUCTION; theta is a tiny
    # aggregate over it
    kept = ranked.where(col("rn") <= k).select("g", "k", "h", "rn")
    theta = (
        kept.groupBy("g")
        .agg(
            F.max(F.when(col("rn") == k, col("h"))).alias("hk"),
        )
        .select(
            "g",
            F.coalesce(col("hk"), F.lit(THETA_MAXH)).alias("theta"),
        )
        .coalesce(1)
    )
    return kept, theta


def theta_merge(
    kept_a: DataFrame, kept_b: DataFrame, k: int = THETA_K
) -> tuple[DataFrame, DataFrame]:
    """Merge two kept frames into the sketch of the union: union the
    survivors, drop per-(group, key) duplicates, re-rank, re-take k.
    PROVABLY equal to the one-pass sketch of the combined input — the
    k minima of A ∪ B are all among bottomk(A) ∪ bottomk(B), and the
    kept set is a pure function of the key SET (deterministic hash,
    deterministic ties) — so shard-combining / foreachBatch
    accumulation converges to the single-pass sketch EXACTLY, not just
    in distribution (the rank-sketch merge discipline,
    `sketch.rank_sketch_merge`). Inputs are k-bounded per group, so the
    merge never touches corpus-sized data."""
    from pyspark.sql.window import Window

    u = (
        kept_a.select("g", "k", "h")
        .unionByName(kept_b.select("g", "k", "h"))
        .dropDuplicates(["g", "k"])
    )
    ranked = u.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("g").orderBy("h", "k")),
    )
    kept = ranked.where(col("rn") <= k).select("g", "k", "h", "rn")
    theta = (
        kept.groupBy("g")
        .agg(F.max(F.when(col("rn") == k, col("h"))).alias("hk"))
        .select(
            "g", F.coalesce(col("hk"), F.lit(THETA_MAXH)).alias("theta")
        )
    )
    return kept, theta


def theta_pair_setops(
    kept: DataFrame, theta: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Union/intersection estimates for group pairs. ``pairs`` is a
    (ga, gb) frame; for each pair the effective threshold is
    theta_ab = min(theta_a, theta_b), the coordinated sample is every
    kept key with h < theta_ab on either side, and

        est = (sample_count * 2^32) div theta_ab

    — all-integer, and exactly the sample count itself when both
    sketches are unsaturated (theta_ab = 2^32). Every input here is
    k-bounded per group, so the whole pair algebra broadcasts.

    Emits (ga, gb, theta_ab, union_est, inter_est).
    """
    ta = theta.select(col("g").alias("ga"), col("theta").alias("theta_a"))
    tb = theta.select(col("g").alias("gb"), col("theta").alias("theta_b"))
    # p is pairs-bounded; checkpoint it so the three sample counts and
    # the final assembly don't re-evaluate the pairs source per
    # reference (a Python-backed createDataFrame source would otherwise
    # respawn its worker chain for every one of them)
    p = (
        pairs.join(F.broadcast(ta), "ga")
        .join(F.broadcast(tb), "gb")
        .withColumn("theta_ab", F.least("theta_a", "theta_b"))
        .select("ga", "gb", "theta_ab")
        .coalesce(1)
        .localCheckpoint()
    )
    ka = kept.select(col("g").alias("ga"), "k", "h")
    kb = kept.select(col("g").alias("gb"), "k", "h")
    # ONE pass instead of three (r19 optimization round): the old shape
    # ran sa/sb/i as three separate broadcast-join + aggregate branches
    # plus three assembly joins (~10 AQE-materialized bounded stages).
    # Union the two per-side samples with a side tag and derive all
    # three counts from one two-level aggregation. Equivalence: within
    # a group keys are DISTINCT, so per (ga, gb, k) each side
    # contributes at most one row; with a_pres = max(a_side) and
    # nsides = row count,
    #   sa_cnt = sum(a_pres)            (rows from ka under theta_ab)
    #   sb_cnt = sum(nsides - a_pres)   (rows from kb under theta_ab)
    #   i_cnt  = count(nsides = 2)      (keys kept by BOTH sides; h is
    #                                    a function of k, so the
    #                                    h < theta_ab cut hits both
    #                                    sides identically)
    # — the exact integers the three branches produced.
    contrib = (
        p.join(F.broadcast(ka), "ga")
        .where(col("h") < col("theta_ab"))
        .select("ga", "gb", "k", F.lit(1).alias("a_side"))
        .unionByName(
            p.join(F.broadcast(kb), "gb")
            .where(col("h") < col("theta_ab"))
            .select("ga", "gb", "k", F.lit(0).alias("a_side"))
        )
    )
    counts = (
        contrib.groupBy("ga", "gb", "k")
        .agg(
            F.max("a_side").alias("a_pres"),
            F.count(F.lit(1)).alias("nsides"),
        )
        .groupBy("ga", "gb")
        .agg(
            F.sum("a_pres").cast("long").alias("sa_cnt"),
            F.sum(col("nsides") - col("a_pres")).cast("long").alias("sb_cnt"),
            F.sum(F.when(col("nsides") == 2, 1).otherwise(0))
            .cast("long")
            .alias("i_cnt"),
        )
    )
    return (
        p.join(F.broadcast(counts), ["ga", "gb"], "left")
        .select(
            "ga",
            "gb",
            "theta_ab",
            F.expr(
                "((coalesce(sa_cnt, 0) + coalesce(sb_cnt, 0)"
                f" - coalesce(i_cnt, 0)) * {THETA_MAXH}) div theta_ab"
            ).alias("union_est"),
            F.expr(
                f"(coalesce(i_cnt, 0) * {THETA_MAXH}) div theta_ab"
            ).alias("inter_est"),
        )
    )
