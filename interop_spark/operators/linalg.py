"""Distributed linear algebra for embedding-pipeline analytics (round-13).

The 100 TB-relevant piece is the GRAM/COVARIANCE accumulation: a naive
``posexplode x posexplode`` pair expansion emits N·d² rows (at d=64
that is 4096 rows per embedding — corpus-dominating shuffle I/O), while
the classic treeAggregate shape emits ONE d×d partial per Arrow batch:
each ``mapInPandas`` task computes ``XᵀX`` / column sums / count with
BLAS locally and ships d²+d+1 doubles, so shuffle volume scales with
task count, not row count. The eigen-iteration then runs on the TINY
covariance frame (d² rows) with broadcast vector joins — corpus data
never participates.

Cross-engine determinism contract (shared with ``operators/kmeans``):
partial sums arrive in engine-dependent order, so every derived
quantity is rounded (9 decimals) before it feeds the next step; IEEE
double division/sqrt are exact-rounded, so the iteration stays
bit-identical between Spark and the DuckDB oracle once its inputs are.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from interop_spark.operators.kernels import forget_zip_finders

COV_ROUND = 9  # shared with the oracle: round before the iteration
PCA_ITERS = 3


def gram_stats(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(i, j, g) upper-left Gram partial sums plus column sums and the
    row count, as one long frame: kind 'g' rows carry sum(x_i·x_j),
    kind 's' rows (j = -1) carry sum(x_i), the single kind 'n' row
    (i = j = -1) carries the count. One ``mapInPandas`` pass — every
    Arrow batch collapses to d² + d + 1 rows before any shuffle."""
    import numpy as np

    def _acc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        forget_zip_finders()
        g = None
        s = None
        n = 0
        for b in batches:
            x = np.asarray(list(b[vec_col]), dtype="float64")
            if x.size == 0:
                continue
            if g is None:
                d = x.shape[1]
                g = np.zeros((d, d))
                s = np.zeros(d)
            g += x.T @ x
            s += x.sum(axis=0)
            n += x.shape[0]
        if g is None:
            return
        d = g.shape[0]
        i_idx, j_idx = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
        yield pd.DataFrame(
            {
                "i": np.concatenate([i_idx.ravel(), np.arange(d), [-1]]),
                "j": np.concatenate([j_idx.ravel(), -np.ones(d, int), [-1]]),
                "v": np.concatenate([g.ravel(), s, [float(n)]]),
            }
        )

    parts = emb.select(vec_col).mapInPandas(_acc, "i int, j int, v double")
    return parts.groupBy("i", "j").agg(F.sum("v").alias("v"))


def covariance(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(i, j, c) covariance entries (biased, /n — the PCA convention),
    rounded to ``COV_ROUND`` so the downstream iteration is
    engine-exact: C_ij = G_ij/n − m_i·m_j with means themselves rounded
    first (the oracle replicates both roundings)."""
    stats = gram_stats(emb, vec_col)
    n = stats.where((col("i") == -1) & (col("j") == -1)).select(
        col("v").alias("n")
    )
    means = (
        stats.where((col("j") == -1) & (col("i") >= 0))
        .crossJoin(F.broadcast(n))
        .select("i", F.round(col("v") / col("n"), COV_ROUND).alias("m"))
    )
    g = stats.where(col("j") >= 0)
    return (
        g.crossJoin(F.broadcast(n))
        .join(F.broadcast(means.select(col("i"), col("m").alias("mi"))), "i")
        .join(
            F.broadcast(
                means.select(col("i").alias("j"), col("m").alias("mj"))
            ),
            "j",
        )
        .select(
            "i",
            "j",
            F.round(
                col("v") / col("n") - col("mi") * col("mj"), COV_ROUND
            ).alias("c"),
        )
    )


def pca_top_component(
    emb: DataFrame, vec_col: str = "embedding", iters: int = PCA_ITERS
) -> DataFrame:
    """Top principal component by FIXED-iteration power method — the
    deterministic analog of one PCA step every embedding pipeline runs
    (whitening, energy checks, Matryoshka truncation audits). Starts at
    e₀, applies v ← round(Cv / ‖Cv‖, 9) exactly ``iters`` times, then
    sign-normalizes (the component of largest |value| — lowest index on
    ties — is made non-negative; eigenvectors are sign-ambiguous).
    Returns d rows: (dim, loading, eigenvalue) where eigenvalue is the
    final ‖Cv‖ Rayleigh estimate.

    Scale shape: after ``covariance`` (one mapInPandas pass + a
    d²-key aggregate), every step is a broadcast join of the d²-row
    matrix with a d-row vector — no corpus-sized data exists here at
    all."""
    c = covariance(emb, vec_col).localCheckpoint()
    # ONE bounded job answers both "is it empty" and "how many dims"
    # (pre-r19 this was a take(1) plus a separate max() job; r19
    # optimization round)
    max_i = c.select(F.max("i")).first()[0]
    if max_i is None:
        # empty input: gram_stats yields nothing, so there is no
        # dimensionality to iterate over — return the empty result
        # frame instead of TypeError-ing on max(i) (ADVICE r13)
        return emb.sparkSession.createDataFrame(
            [], "dim int, loading double, eigenvalue double"
        )
    v = c.sparkSession.range(1).select(
        F.lit(0).alias("j"), F.lit(1.0).alias("vj")
    )
    d_rows = max_i + 1
    all_dims = c.sparkSession.range(d_rows).select(col("id").cast("int").alias("j"))
    # missing dims start at 0 (v0 = e0)
    v = all_dims.join(v, "j", "left").select(
        "j", F.coalesce("vj", F.lit(0.0)).alias("vj")
    )
    norm = None
    for _ in range(iters):
        w = (
            c.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.round(F.sum(col("c") * col("vj")), COV_ROUND).alias("w"))
        )
        nrm = w.select(
            F.round(F.sqrt(F.sum(col("w") * col("w"))), COV_ROUND).alias(
                "nrm"
            )
        )
        # checkpoint per step (the kmeans_fit discipline): the next
        # iteration re-reads a 64-row materialized frame instead of
        # replaying the whole prior-iteration DAG, so plan depth — and
        # the final plan a reviewer reads — stays O(1) in iters
        v = (
            w.crossJoin(F.broadcast(nrm))
            .select(
                col("i").alias("j"),
                # zero covariance (all-constant embeddings) gives
                # ‖Cv‖ = 0: define the step as the zero vector instead
                # of NaN/Infinity loadings (ADVICE r13)
                F.when(col("nrm") == 0, F.lit(0.0))
                .otherwise(F.round(col("w") / col("nrm"), COV_ROUND))
                .alias("vj"),
            )
            .localCheckpoint()
        )
        # only the FINAL iteration's norm feeds the output (it is the
        # eigenvalue estimate); keep the frame lazy — it re-derives one
        # 64-row join+agg from the checkpointed v when the output plan
        # runs, which is cheaper than a materialization job per
        # iteration (pre-r19 checkpointed it every round; r19
        # optimization round)
        norm = nrm
    # sign fix: flip so the largest-|loading| (lowest dim on ties) is >= 0
    pick = v.select(
        F.max(
            F.struct(
                F.abs(col("vj")).alias("a"),
                (-col("j")).alias("nj"),
                F.signum(col("vj")).alias("s"),
            )
        ).alias("p")
    ).select(
        F.when(col("p.s") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("flip")
    )
    return (
        v.crossJoin(F.broadcast(pick))
        .crossJoin(F.broadcast(norm))
        .select(
            col("j").alias("dim"),
            (F.round(col("vj") * col("flip"), COV_ROUND) + F.lit(0.0)).alias(
                "loading"
            ),
            (F.round(col("nrm"), 6) + F.lit(0.0)).alias("eigenvalue"),
        )
    )
