"""Similarity search over an embedding column (``array<float>``).

- ``cosine_sim`` / ``dot`` / ``l2_norm``: pure HOF expressions in double
  precision with left-to-right accumulation, so any engine iterating the
  array in order reproduces them bit-for-bit (oracle parity).
- ``brute_force_topk``: exact top-k against a broadcast query vector —
  O(n·d) scan, the correctness baseline; distributes perfectly (no shuffle
  until the final top-k, which is TakeOrderedAndProject).
- ``lsh_bucket``: random-hyperplane signature for approximate search. The
  hyperplanes are derived deterministically from md5 (no RNG), so plans and
  results are reproducible across runs and engines.
- ``ivf_assign``: IVF-style coarse quantization — assign every vector to
  its nearest centroid, search only the query's cell(s). The assignment is
  SHUFFLE-FREE on the vector side: the C centroids are collapsed into a
  one-row array, broadcast, and the argmax is a per-row ``F.aggregate``
  fold — no n×C row expansion, no groupBy, no re-join. At 100 TB the probe
  then touches ~1/C of the data.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from interop_spark.operators.kernels import (
    assign_nearest,
    centroid_cosines,
    dot_lr,
    forget_zip_finders,
    round_spark,
    stack,
    sumsq_lr,
    valid_rows,
)


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_sim(a: Column, b: Column) -> Column:
    return dot(a, b) / F.greatest(
        l2_norm(a) * l2_norm(b), F.lit(1e-12)
    )


def cosine_sim_given_norms(
    a: Column, b: Column, norm_a: Column, norm_b: Column
) -> Column:
    """``cosine_sim`` with the norms supplied as materialized columns —
    same expression shape and multiplication order, so results are
    bit-identical, but each factored-out norm saves one full array pass
    per evaluation (the win when one side is a broadcast query row whose
    norm would otherwise be re-derived per scored vector)."""
    return dot(a, b) / F.greatest(norm_a * norm_b, F.lit(1e-12))


def _dbl_sql(x: float) -> str:
    # repr() is the shortest round-trip decimal: parsing it back yields
    # the identical double, and Spark's D-suffix literal does exactly
    # that parse — so the literal is bit-identical to F.lit(float(x)).
    return repr(float(x)) + "D"


def vector_literal_sql(vec) -> str:
    """``array(..D, ..D, ...)`` SQL text for a finite float vector."""
    return "array(" + ",".join(_dbl_sql(x) for x in vec) + ")"


def matrix_literal_sql(rows) -> str:
    """``array(array(..), ...)`` SQL text for rows of float vectors."""
    return (
        "array(" + ",".join(vector_literal_sql(r) for r in rows) + ")"
    )


def query_vector_literal(vec: list[float]) -> Column:
    """Vector literal as ONE ``F.expr`` parse instead of ``len(vec)``
    py4j Column constructions (r19 optimization round: per-element
    ``F.lit`` made PLAN CONSTRUCTION the dominant cost of the PQ/ANN
    query family — ~0.8 s per 1k elements — while the parsed literal is
    bit-identical). Non-finite elements fall back to the element-wise
    path (D-suffix text has no NaN/Infinity form)."""
    vals = [float(x) for x in vec]
    if all(math.isfinite(x) for x in vals):
        return F.expr(vector_literal_sql(vals))
    return F.array(*[F.lit(x) for x in vals])


def brute_force_topk(
    df: DataFrame,
    query: list[float] | Column,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k. Ties broken by id for determinism."""
    q = query_vector_literal(query) if isinstance(query, list) else query
    sim = cosine_sim(as_double(F.col(vec_col)), as_double(q))
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: md5 of (seed, index) →
    uniform in [-0.5, 0.5). No RNG — reproducible everywhere."""
    out = []
    for j in range(dim):
        h = hashlib.md5(f"plane:{seed}:{j}".encode()).hexdigest()
        out.append((int(h[:8], 16) / 0xFFFFFFFF) - 0.5)
    return out


def recommended_n_planes(corpus_rows: int, target_bucket_size: int = 64) -> int:
    """Plane count that keeps expected LSH bucket occupancy near
    ``target_bucket_size``: ceil(log2(corpus / target)). A fixed plane
    count is a scale bug — 2^planes buckets over a growing corpus means
    bucket size (and any in-bucket pairing) grows linearly with the data;
    scaling planes with log2(n) keeps per-bucket work constant."""
    if corpus_rows <= target_bucket_size:
        return 1
    return max(1, math.ceil(math.log2(corpus_rows / target_bucket_size)))


def lsh_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id: bit i = sign(vec · plane_i)."""
    bucket = F.lit(0)
    for i in range(n_planes):
        plane = query_vector_literal(_hyperplane(i, dim))
        bit = F.when(dot(as_double(vec), plane) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        bucket = bucket + bit
    return bucket


def lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.
    Recall depends on n_planes; the point is the pruned-scan plan shape."""
    dim = len(query)
    q = query_vector_literal(query)
    bucketed = df.withColumn("_bucket", lsh_bucket(F.col(vec_col), dim, n_planes))
    query_bucket = lsh_bucket(q, dim, n_planes)
    return (
        bucketed.where(F.col("_bucket") == query_bucket)
        .select(
            F.col(id_col),
            F.round(cosine_sim(as_double(F.col(vec_col)), as_double(q)), 6).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def nearest_centroid(
    vec: Column, centroid_arr: Column, vec_norm: Column | None = None
) -> Column:
    """Per-row argmax over an array<struct<k,v[,norm]>> of centroids: one
    ``F.aggregate`` fold, no row expansion. Similarity is rounded to 9
    decimals before comparison (cross-engine float stability); ties go to
    the LARGEST centroid id (matches ``max(struct(v, k))`` lexicographic
    semantics) because the fold takes ``>=`` over an id-ascending array.
    Returns the winning centroid id.

    Pass ``vec_norm`` (a materialized column) when the centroid array
    carries precomputed ``norm`` fields: the fold then does ONE array pass
    per centroid (the dot product) instead of three — the norms are the
    same ``l2_norm`` expression in the same multiplication order, so the
    rounded similarity is bit-identical to ``cosine_sim``."""
    if vec_norm is not None:
        sims = F.transform(
            centroid_arr,
            lambda c: F.struct(
                F.round(
                    dot(as_double(vec), as_double(c["v"]))
                    / F.greatest(vec_norm * c["norm"], F.lit(1e-12)),
                    9,
                ).alias("v"),
                c["k"].alias("k"),
            ),
        )
    else:
        sims = F.transform(
            centroid_arr,
            lambda c: F.struct(
                F.round(
                    cosine_sim(as_double(vec), as_double(c["v"])), 9
                ).alias("v"),
                c["k"].alias("k"),
            ),
        )
    # NULL-initialized accumulator: a centroid with a NULL rounded
    # similarity never replaces the best, and "nothing won yet" is
    # NULL-k — distinguishable from EVERY real id, so legitimately
    # negative centroid ids survive (a -1 init sentinel would alias
    # part of the id domain and silently null it out).
    best = F.aggregate(
        sims,
        F.struct(
            F.lit(None).cast("double").alias("v"),
            F.lit(None).cast("bigint").alias("k"),
        ),
        lambda acc, s: F.when(
            s["v"].isNotNull() & (acc["v"].isNull() | (s["v"] >= acc["v"])), s
        ).otherwise(acc),
    )
    # Empty centroid array, or every rounded similarity NULL (e.g. a
    # vector with a NULL element) → NULL cell.
    return best["k"]


def query_cells(
    vec: Column, centroid_arr: Column, vec_norm: Column, nprobe: int
) -> Column:
    """Top-``nprobe`` centroid ids for a query vector — the multi-probe
    extension of ``nearest_centroid``: probing the q nearest cells
    instead of 1 recovers most of the recall a hard cell boundary costs
    (the standard IVF nprobe knob). Ranking is (rounded-9 cosine DESC,
    centroid id DESC), identical tie semantics to the single-probe
    argmax, so nprobe=1 reproduces ``nearest_centroid`` exactly."""
    sims = F.transform(
        centroid_arr,
        lambda c: F.struct(
            F.round(
                dot(as_double(vec), as_double(c["v"]))
                / F.greatest(vec_norm * c["norm"], F.lit(1e-12)),
                9,
            ).alias("v"),
            c["k"].alias("k"),
        ),
    )
    ranked = F.reverse(F.array_sort(sims))  # (v, k) ascending → reversed
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["k"])


def query_cosine_udf(
    query_vec: list[float],
    round_digits: int | None = None,
    ppb: int | None = None,
):
    """Arrow-vectorized cosine-vs-fixed-query scorer — the ``pandas_udf``
    twin of ``round(cosine_sim_given_norms(v, q, l2(v), l2(q)), d)``
    (``round_digits`` mode, double) or of
    ``floor(cosine_sim(v, q) * ppb)`` cast bigint (``ppb`` mode — MMR's
    integer-quantized similarity; ``floor`` of a double is exact, so
    that mode needs no rounding replication at all). One
    ArrowEvalPython pass replaces the interpreted per-row fold chain
    (r20 optimization round, guide §4).

    Bit-exactness (pinned by ``test_query_cosine_udf_bitexact``): dot
    and both norms are the ``kernels`` left-to-right accumulators (the
    ``dot``/``l2_norm`` IEEE-754 sequence; the query norm is computed
    once, exactly like a factored ``_nq`` column), denominator
    ``max(vnorm*qnorm, 1e-12)``, and round-N is
    ``kernels.round_spark``. NULL / wrong-dimension vectors yield NULL
    (the fold's NULL propagation). Marked nondeterministic so a filter
    on the score never duplicates the evaluation (guide §4.4)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if round_digits is None and ppb is None:
        raise ValueError("query_cosine_udf: pass round_digits or ppb")
    Q = np.asarray(query_vec, dtype=np.float64)
    dim = Q.shape[0]
    nq = np.sqrt(sumsq_lr(Q[None, :]))[0]
    out_type = "bigint" if ppb is not None else "double"

    def _score(s):
        forget_zip_finders()
        import pandas as pd

        vals = list(s)
        out = [None] * len(vals)
        rows = valid_rows(vals, dim)
        X = stack(vals, rows, dim)
        c = dot_lr(X, Q) / np.maximum(np.sqrt(sumsq_lr(X)) * nq, 1e-12)
        if ppb is not None:
            scored = np.floor(c * float(ppb))
            for row_i, i in enumerate(rows):
                x = scored[row_i]
                out[i] = int(x) if np.isfinite(x) else None
        else:
            scored = round_spark(c, round_digits)
            for row_i, i in enumerate(rows):
                x = scored[row_i]
                out[i] = None if np.isnan(x) else float(x)
        return pd.Series(out, dtype="object")

    return pandas_udf(_score, out_type).asNondeterministic()


def pair_cosine_udf(round_digits: int):
    """Arrow-vectorized twin of ``round(cosine_sim(a, b), d)`` for two
    vector COLUMNS (the near-dup pair-verification scorer; r20, guide
    §4). Same ``kernels`` accumulators and Spark-Round replication as
    ``query_cosine_udf`` (pinned by ``test_pair_cosine_udf_bitexact``);
    rows are grouped by their common dimension so mixed-length inputs
    still score (an empty pair scores the fold's 0.0 / 1e-12 = 0.0).
    Either side NULL or a length mismatch → NULL (the fold's
    ``zip_with`` padding makes the dot NULL). Marked nondeterministic
    (guide §4.4: a threshold filter on the score must not duplicate the
    evaluation)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _score(sa, sb):
        forget_zip_finders()
        import pandas as pd

        la, lb = list(sa), list(sb)
        out = [None] * len(la)
        groups: dict = {}
        for i in range(len(la)):
            a, b = la[i], lb[i]
            if a is None or b is None or len(a) != len(b):
                continue
            groups.setdefault(len(a), []).append(i)
        for d0, grp in groups.items():
            A, B = stack(la, grp, d0), stack(lb, grp, d0)
            na, nb = np.sqrt(sumsq_lr(A)), np.sqrt(sumsq_lr(B))
            c = dot_lr(A, B) / np.maximum(na * nb, 1e-12)
            scored = round_spark(c, round_digits)
            for row_i, i in enumerate(grp):
                x = scored[row_i]
                out[i] = None if np.isnan(x) else float(x)
        return pd.Series(out, dtype="object")

    return pandas_udf(_score, "double").asNondeterministic()


def lsh_bucket_udf(planes: list[list[float]]):
    """Arrow-vectorized twin of ``lsh_bucket``: bucket id with bit i =
    ``dot(v, plane_i) >= 0`` (r20, guide §4). ``planes`` is the
    driver-side hyperplane list (``_hyperplane(i, dim)`` per plane).

    Bit-exactness (pinned by ``test_lsh_bucket_udf_bitexact_vs_fold``):
    each dot is ``kernels.dot_lr``; the sign test needs no rounding
    replication (``>= 0`` on a bit-identical double). A NULL,
    wrong-dimension or null-element vector buckets to 0 — the fold's
    NULL dot makes every ``when(dot >= 0, bit)`` take the 0 branch. (A
    real-NaN ELEMENT would differ: Spark orders NaN above 0 so the fold
    would set every bit, while the scorer takes the 0 branch — the
    fixtures and every operator upstream produce neither.)"""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)
    dim = P.shape[1]

    @pandas_udf("int")
    def _bucket(s):
        forget_zip_finders()
        import pandas as pd

        vals = list(s)
        out = [0] * len(vals)
        rows = valid_rows(vals, dim)
        X = stack(vals, rows, dim)
        bucket = np.zeros(len(rows), dtype=np.int64)
        for p in range(P.shape[0]):
            acc = dot_lr(X, P[p])
            bucket = bucket + np.where(~np.isnan(acc) & (acc >= 0), 1 << p, 0)
        for row_i, i in enumerate(rows):
            out[i] = int(bucket[row_i])
        return pd.Series(out, dtype="int32")

    return _bucket


def nearest_centroid_udf(
    cents: list[tuple[int, list[float]]], with_sim: bool = False
):
    """Arrow-vectorized twin of the ``nearest_centroid`` fold: a
    ``pandas_udf`` mapping a vector to the id of its max-cosine centroid
    in one ArrowEvalPython pass (r20 optimization round, guide §4 — the
    interpreted per-row ``F.aggregate`` argmax was the IVF family's
    dominant executor cost). ``cents`` is the collected centroid table
    as ``[(id, vector), ...]`` sorted by id ASCENDING — the same order
    ``centroid_array`` builds.

    Bit-exactness contract (pinned by
    ``test_nearest_centroid_udf_bitexact_vs_fold``): the argmax is
    ``kernels.assign_nearest`` — ``kernels`` left-to-right dot and norms
    (centroid norms precomputed once, as ``centroid_array`` does),
    ``round_spark`` round-9 before comparison, ties to the LARGEST
    centroid id and NaN similarities as +inf, which is Spark's NaN
    ordering under the fold's ``>=``. A NULL vector (or empty centroid
    list) yields a NULL cell.

    ``with_sim=True`` (semdedup's scoring pass) returns
    ``struct<cell:bigint, ccos9:double, vn:double>`` — the winning
    cell, its ROUNDED-9 cosine, and the row's l2 norm in the same pass;
    the winner's rounded similarity is bit-identical to re-deriving
    ``round(cosine_sim(v, c_cell), 9)`` (the argmax compares the
    already-rounded values) and ``vn`` is bit-identical to the
    ``l2_norm`` fold (same accumulation + sqrt), so downstream pair
    scoring via ``cosine_sim_given_norms`` stays exact."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    karr = np.asarray([int(k) for k, _ in cents], dtype=np.int64)
    C = np.asarray([v for _, v in cents], dtype=np.float64)
    # with no centroids every row is invalid (dim -1) → all NULL cells
    dim = C.shape[1] if len(cents) else -1
    cn = np.sqrt(sumsq_lr(C)) if len(cents) else None

    def _cell(s):
        forget_zip_finders()
        import pandas as pd

        vals = list(s)
        out = [None] * len(vals)
        rows = valid_rows(vals, dim)
        if rows:
            best, Sr, vn = assign_nearest(stack(vals, rows, dim), C, cn)
            cells = karr[best]
            if with_sim:
                # the winner's rounded sim may legitimately be NaN (a
                # NaN-element vector) — carry the NaN double through,
                # exactly like the fold's recomputed round9 would
                wsim = Sr[best, np.arange(Sr.shape[1])]
                for row_i, i in enumerate(rows):
                    out[i] = (
                        int(cells[row_i]),
                        float(wsim[row_i]),
                        float(vn[row_i]),
                    )
            else:
                for row_i, i in enumerate(rows):
                    out[i] = int(cells[row_i])
        if with_sim:
            return pd.DataFrame(
                [t or (None, None, None) for t in out],
                columns=["cell", "ccos9", "vn"],
            )
        return pd.Series(out, dtype="object")

    if with_sim:
        return pandas_udf(
            _cell, "struct<cell:bigint,ccos9:double,vn:double>"
        )
    return pandas_udf(_cell, "bigint")


def collect_centroids(
    centroids: DataFrame,
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
) -> list[tuple[int, list[float]]]:
    """The BOUNDED centroid table (C rows by contract: the coarse
    quantizer is always small) as ``[(id, vector), ...]`` sorted by id
    ascending, the order ``centroid_array`` builds. One collect job."""
    return sorted(
        (
            (int(r[0]), [float(x) for x in r[1]])
            for r in centroids.select(
                F.col(centroid_id).cast("bigint"), F.col(centroid_vec)
            ).collect()
        ),
        key=lambda kv: kv[0],
    )


def probe_cells(
    query: list[float], cents: list[tuple[int, list[float]]], nprobe: int
) -> list[int]:
    """The query's ``nprobe`` nearest centroid ids, decided on the
    driver: the numpy twin of ``query_cells`` over the collected
    ``cents`` (``collect_centroids``). Same rounded similarity
    (``kernels.centroid_cosines``) and ranking (sim DESC, id DESC); a
    NaN similarity ranks as +inf, Spark's NaN ordering. A query whose
    dimension differs from the centroids' scores NULL against every
    centroid, as the fold's padded ``zip_with`` does, and so probes the
    ``nprobe`` largest ids."""
    import numpy as np

    if nprobe < 0:
        raise ValueError(f"nprobe must be >= 0, got {nprobe}")
    ids = [k for k, _ in cents]
    if not cents or len(query) != len(cents[0][1]):
        return sorted(ids, reverse=True)[:nprobe]
    C = np.asarray([v for _, v in cents], dtype=np.float64)
    Sr, _ = centroid_cosines(
        np.asarray([query], dtype=np.float64), C, np.sqrt(sumsq_lr(C))
    )
    sims = np.where(np.isnan(Sr[:, 0]), np.inf, Sr[:, 0])
    ranked = sorted(zip(sims.tolist(), ids), reverse=True)
    return [k for _, k in ranked[:nprobe]]


def centroid_array(
    centroids: DataFrame,
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """Collapse a C-row centroid table into ONE row holding an id-sorted
    array<struct<k,v,norm>> — the broadcastable unit for shuffle-free
    assignment, with each centroid's l2 norm precomputed once here
    instead of once per (vector, centroid) in the fold. The collapse
    itself exchanges only C rows."""
    return centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(centroid_id).cast("bigint").alias("k"),
                    F.col(centroid_vec).alias("v"),
                    l2_norm(as_double(F.col(centroid_vec))).alias("norm"),
                )
            )
        ).alias("_cents")
    )


class IVFIndex:
    """A built IVF index: the MATERIALIZED (id, vector, cell) assignment
    plus the one-row broadcast centroid array. Build once, search many —
    the assignment is the expensive pass over the corpus (and on a
    cluster would be a written table); every search touches ~nprobe/C of
    it via a cheap cell filter against one broadcast query row."""

    def __init__(
        self, assigned: DataFrame, cents: DataFrame, id_col: str, vec_col: str
    ):
        self.assigned = assigned
        self.cents = cents
        self.id_col = id_col
        self.vec_col = vec_col

    def search(
        self, query: list[float], k: int = 10, nprobe: int = 1
    ) -> DataFrame:
        """Top-k by cosine within the query's ``nprobe`` nearest cells.
        ``nprobe = C`` degenerates to exact brute force (every cell
        probed), which is the recall ceiling the tests pin."""
        qv = query_vector_literal(query)
        qrow = self.cents.select(
            qv.alias("_qvec"),
            l2_norm(as_double(qv)).alias("_nq"),
            F.col("_cents").alias("_qcents"),
        ).select(
            "_qvec",
            "_nq",
            query_cells(
                F.col("_qvec"), F.col("_qcents"), F.col("_nq"), nprobe
            ).alias("_qcells"),
        )
        return (
            self.assigned.join(
                F.broadcast(qrow),
                F.array_contains(F.col("_qcells"), F.col("cell")),
            )
            .select(
                self.id_col,
                "cell",
                F.round(
                    cosine_sim_given_norms(
                        as_double(F.col(self.vec_col)),
                        as_double(F.col("_qvec")),
                        l2_norm(as_double(F.col(self.vec_col))),
                        F.col("_nq"),
                    ),
                    6,
                ).alias("cosine_sim"),
            )
            .orderBy(F.col("cosine_sim").desc(), F.col(self.id_col).asc())
            .limit(k)
        )


def ivf_build(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
) -> IVFIndex:
    """Build (and materialize) an IVF index over ``df``. See IVFIndex."""
    cents = centroid_array(centroids, centroid_id, centroid_vec)
    assigned = ivf_assign(
        df, centroids, id_col, vec_col, centroid_id, centroid_vec
    ).localCheckpoint()
    return IVFIndex(assigned, cents, id_col, vec_col)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine) — the IVF
    build step. The BOUNDED centroid table (C rows by contract — the
    coarse quantizer is always small) is collected once per construction
    and the assignment is one Arrow-vectorized projection
    (``nearest_centroid_udf``; r20 — the r19 shape broadcast a one-row
    centroid array and paid an interpreted per-row argmax fold, the IVF
    family's dominant executor cost). Still zero Exchange on the vector
    side, and the per-row work is numpy over whole Arrow batches.

    Construction is not lazy: it fires one bounded
    ``centroids.collect()`` job (C rows, ``collect_centroids``) and
    freezes that centroid snapshot into the returned plan."""
    cents = collect_centroids(centroids, centroid_id, centroid_vec)
    cell = nearest_centroid_udf(cents)(F.col(vec_col))
    return df.select(id_col, vec_col, cell.alias("cell"))


def _ivf_assign_fold(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """REFERENCE TWIN of ``ivf_assign`` (the r19 shape): scan →
    BroadcastNestedLoopJoin against the ONE-ROW centroid array →
    per-row interpreted argmax fold. Kept for
    ``test_nearest_centroid_udf_bitexact_vs_fold``, which pins the
    Arrow path's equality on the real fixtures."""
    cents = centroid_array(centroids, centroid_id, centroid_vec)
    joined = df.crossJoin(F.broadcast(cents)).withColumn(
        "_vnorm", l2_norm(as_double(F.col(vec_col)))
    )
    cell = nearest_centroid(
        F.col(vec_col), F.col("_cents"), F.col("_vnorm")
    )
    # double-reference guard: with a single reference, CollapseProject
    # inlines the norm into the per-centroid fold lambda, recomputing it
    # C times per row; the isNotNull branch adds a second reference so the
    # producing Project survives and the norm is evaluated once per row
    # (null embeddings yield a null cell either way)
    cell = F.when(F.col("_vnorm").isNotNull(), cell)
    return joined.select(id_col, vec_col, cell.alias("cell"))


# ---------------------------------------------------------------------------
# Scalar quantization (int8) — embedding storage compression
# ---------------------------------------------------------------------------


def sq8_encode(vec: Column) -> Column:
    """Per-vector int8 scalar quantization: struct(mn, scale, codes)
    with ``code[i] = round((x[i] - mn) / scale)`` into [0, 255] (mn/mx
    from the vector itself; a constant vector gets scale 0 and all-zero
    codes). 4x smaller than float32 at ~1e-2 max error on unit-scale
    embeddings — the standard first rung of the compression ladder
    before PQ. Pure HOF expression: encoding a 100 TB embedding table
    is one scan, no shuffle.

    Parity note: the quantizer quotient is rounded to 0 decimals, where
    Spark (BigDecimal HALF_UP on the shortest repr) and DuckDB (round
    half away from zero on the exact binary) agree for every
    nonnegative double — the only shortest-repr string ending in ``.5``
    belongs to the exactly-representable half, which both round up.
    """
    v = as_double(vec)
    mn = F.array_min(v)
    scale = (F.array_max(v) - mn) / F.lit(255.0)
    codes = F.transform(
        v,
        lambda x: F.when(scale > 0, F.round((x - mn) / scale))
        .otherwise(F.lit(0.0))
        .cast("int"),
    )
    return F.struct(
        mn.alias("mn"), scale.alias("scale"), codes.alias("codes")
    )


def sq8_decode(sq: Column) -> Column:
    """Dequantize: ``x'[i] = mn + code[i] * scale`` (array<double>)."""
    return F.transform(
        sq["codes"], lambda c: sq["mn"] + c.cast("double") * sq["scale"]
    )


def semdedup(
    df: DataFrame,
    centroids: DataFrame,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023 — public method):
    cluster embeddings (here: the engine's IVF cell assignment), then
    within each cell drop every vector that has a >= ``tau`` cosine
    neighbor ranked better by the keep rule. Keep rule (deterministic):
    among semantic duplicates, keep the vector with the LOWEST
    rounded-9 cosine to its cell centroid (the paper's low-centroid-
    similarity choice), ties to the LOWEST id.

    Drop rule is PAIRWISE and intentionally non-transitive: a vector is
    dropped if ANY >= ``tau`` neighbor ranks better, even when that
    neighbor is itself dropped. On duplicate CHAINS (a~b, b~c, a!~c)
    this can drop both b and c, leaving only a — i.e. a connected
    near-duplicate component keeps its single best-ranked member, not
    one representative per pairwise-duplicate subset. This is more
    aggressive than a keep-one-per-group reading of SemDeDup and is the
    deliberate choice here: it is a single self-join + anti-join (no
    iterative connected-components pass over every cell), the extra
    drops are themselves within ``tau``-chain distance of the kept
    member, and the DuckDB oracle encodes the identical rule. Callers
    needing per-group representatives should run ``dedup_clusters_star``
    over the >= ``tau`` pair list instead.

    Returns the KEPT rows: ``(id, cell, ccos)`` with ``ccos`` the
    round-6 centroid cosine (round-9 internally for the rank compare —
    the engine's cross-engine tie posture).

    Scale shape: one broadcast cell assignment (no vector-side
    Exchange), a cell-keyed join to score centroid cosines, then the
    within-cell pair join — quadratic IN THE CELL, the algorithm's real
    shape; cluster count must grow with the corpus so cells stay
    bounded (the paper uses ~100k clusters at web scale). The pair join
    is an equi-join on the cell id, AQE-splittable.

    Construction is not lazy: it fires one bounded
    ``centroids.collect()`` job (C rows), whose snapshot the scoring
    UDF embeds, before the ``localCheckpoint`` of the scored rows."""
    # ONE Arrow pass scores cell + rounded centroid cosine per row (r20,
    # guide §4): the r19 shape paid the interpreted argmax fold, a
    # broadcast centroid re-join, and a second interpreted cosine fold.
    # The winner's rounded-9 similarity is bit-identical to re-deriving
    # round(cosine_sim(v, c_cell), 9) (the argmax compares the rounded
    # values); the inner join it replaces only dropped NULL-cell rows,
    # which the isNotNull filter reproduces.
    cents = sorted(
        (
            (int(r[0]), [float(x) for x in r[1]])
            for r in centroids.select(
                F.col(centroid_id).cast("bigint"), F.col(centroid_vec)
            ).collect()
        ),
        key=lambda kv: kv[0],
    )
    a_col = nearest_centroid_udf(cents, with_sim=True)(F.col(vec_col))
    scored = (
        df.select(F.col(id_col), F.col(vec_col), a_col.alias("_a"))
        .select(
            F.col(id_col),
            F.col("_a.cell").alias("cell"),
            F.col(vec_col),
            F.col("_a.ccos9").alias("_ccos9"),
            F.col("_a.vn").alias("_vn"),
        )
        .where(F.col("cell").isNotNull())
        .localCheckpoint()
    )
    a = scored.select(
        F.col(id_col).alias("_aid"),
        F.col("cell"),
        F.col(vec_col).alias("_va"),
        F.col("_ccos9").alias("_accos"),
        F.col("_vn").alias("_na"),
    )
    b = scored.select(
        F.col(id_col).alias("_bid"),
        F.col("cell"),
        F.col(vec_col).alias("_vb"),
        F.col("_ccos9").alias("_bccos"),
        F.col("_vn").alias("_nb"),
    )
    dropped = (
        a.join(b, "cell")
        .where(F.col("_aid") != F.col("_bid"))
        # given-norms pair verification (r20): the norms ride along from
        # the scoring UDF (bit-identical to the l2_norm fold), so the
        # quadratic within-cell check does ONE array pass per pair (the
        # dot) instead of three — same rounded value as
        # round(cosine_sim(a, b), 9), per cosine_sim_given_norms's
        # identical multiplication order. (An Arrow pair scorer was
        # measured SLOWER here: shipping 2×64 doubles per candidate
        # pair through the Python boundary cost more than the fold —
        # kept as a negative result.)
        .where(
            F.round(
                cosine_sim_given_norms(
                    as_double(F.col("_va")),
                    as_double(F.col("_vb")),
                    F.col("_na"),
                    F.col("_nb"),
                ),
                9,
            )
            >= F.lit(tau)
        )
        .where(
            (F.col("_bccos") < F.col("_accos"))
            | (
                (F.col("_bccos") == F.col("_accos"))
                & (F.col("_bid") < F.col("_aid"))
            )
        )
        .select(F.col("_aid"))
        .distinct()
    )
    return scored.join(
        dropped, scored[id_col] == dropped["_aid"], "left_anti"
    ).select(
        id_col,
        "cell",
        F.round(F.col("_ccos9"), 6).alias("ccos"),
    )
