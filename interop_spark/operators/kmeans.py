"""Distributed spherical k-means (Lloyd iterations) composed from the IVF
kernels — the missing *training* step for IVF coarse centroids (round-3
verdict: centroids were previously taken ad hoc from the first C vectors).

Spark-first shape, per iteration:

1. **Assign** — ``ivf_assign``: the C centroids collapse into a ONE-ROW
   broadcast array and every vector takes a per-row ``F.aggregate``
   argmax. No shuffle on the vector side, no n×C row expansion.
2. **Update** — ``centroid_update``: posexplode the assigned vectors and
   average per (cell, dim) — ONE keyed shuffle per iteration carrying
   (cell, dim, partial-sum) after map-side combine, then the C new
   centroids collapse back to one row. At 100 TB this is the textbook
   scalable k-means step: per-iteration cost = one corpus scan + one
   C·d-sized aggregate.

Cosine is scale-invariant, so the plain per-cell MEAN is exactly the
spherical k-means update (the mean direction maximizes the summed cosine
to the cell's members); the average-cosine objective is therefore
non-decreasing over iterations (property-tested) and assignment reaches a
fixpoint. Convergence detection compares assignments between iterations —
an ``isNotNull``-guarded join on the (small) id→cell projections.

The per-iteration ``localCheckpoint`` is deliberate: each iteration's
assignment feeds BOTH the update and the fixpoint check, and without
materialization the lineage doubles every iteration (the r2
``ivf_probe_topk`` double-evaluation bug, generalized). On a cluster the
equivalent is writing the assignment table per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.window import Window

from interop_spark.operators.similarity import (
    as_double,
    cosine_sim_given_norms,
    ivf_assign,
    l2_norm,
)


def centroid_update(
    assigned: DataFrame,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """New centroids = per-cell component means, rounded to 9 decimals
    (cross-engine float stability — same posture as the assignment's
    rounded cosine). Returns (centroid_id, centroid).

    posexplode → groupBy(cell, dim) → avg is the scalable form: the
    shuffle carries map-side-combined partials, never raw vectors, and
    the re-assembly (array_sort over dim-tagged components) touches only
    C·d rows."""
    comps = (
        assigned.where(col(cell_col).isNotNull())
        .select(col(cell_col), F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(cell_col, "pos")
        .agg(F.round(F.avg(col("v").cast("double")), 9).alias("m"))
    )
    return (
        comps.groupBy(cell_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
        .select(col(cell_col).cast("bigint").alias("centroid_id"), "centroid")
    )


def kmeans_init(
    df: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic seeding: the k lowest-id vectors become centroids
    0..k-1. Rerun-stable (no RNG) — the engine-wide reproducibility
    contract; k-means++ style seeding can replace this without touching
    the iteration."""
    w = F.row_number().over(Window.orderBy(col(id_col)))
    return (
        df.orderBy(col(id_col))
        .limit(k)
        .select(
            (w - 1).cast("bigint").alias("centroid_id"),
            col(vec_col).alias("centroid"),
        )
    )


def kmeans_one_step(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration (assign → update), exposed as its own operator
    so the update math gets a full relational oracle. Returns the new
    (centroid_id, centroid) frame."""
    assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    return centroid_update(assigned, vec_col=vec_col)


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    max_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: DataFrame | None = None,
):
    """Lloyd iterations until assignment fixpoint or ``max_iters``.

    Returns ``(centroids, assigned, n_iters, converged)``:
    ``centroids`` = (centroid_id, centroid) for the FINAL assignment,
    ``assigned`` = (id, vec, cell) materialized, ``converged`` = True
    iff two consecutive assignments were identical.
    """
    cents = init if init is not None else kmeans_init(df, k, id_col, vec_col)
    prev = ivf_assign(df, cents, id_col=id_col, vec_col=vec_col).localCheckpoint()
    n_iters = 0
    converged = False
    for _ in range(max_iters):
        cents = centroid_update(prev, vec_col=vec_col)
        cur = ivf_assign(df, cents, id_col=id_col, vec_col=vec_col).localCheckpoint()
        n_iters += 1
        converged = (
            cur.alias("a")
            .join(prev.alias("b"), col(f"a.{id_col}") == col(f"b.{id_col}"))
            .where(~col("a.cell").eqNullSafe(col("b.cell")))
            .isEmpty()
        )
        prev = cur
        if converged:
            break
    return cents, prev, n_iters, converged


def kmeans_objective(
    assigned: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
) -> float:
    """Average cosine similarity of each vector to its assigned centroid —
    the spherical k-means objective (maximized by Lloyd iterations).
    Small-side broadcast join on cell id; used by tests/diagnostics."""
    c = centroids.select(
        col("centroid_id").alias("cell"),
        col("centroid").alias("_c"),
        l2_norm(as_double(col("centroid"))).alias("_cn"),
    )
    sim = cosine_sim_given_norms(
        as_double(col(vec_col)),
        as_double(col("_c")),
        l2_norm(as_double(col(vec_col))),
        col("_cn"),
    )
    row = (
        assigned.where(col("cell").isNotNull())
        .join(F.broadcast(c), "cell")
        .agg(F.avg(sim).alias("obj"))
        .collect()[0]
    )
    return float(row["obj"])
