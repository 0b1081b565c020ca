"""Product quantization (PQ) — the ANN compression rung after int8
scalar quantization (Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011; public algorithm).

A d-dim vector splits into M contiguous subvectors of d/M dims; each
subspace trains a small k-codeword codebook (Lloyd iterations under L2 —
the classic PQ objective; L2 decomposes exactly across subspaces:
``||x - y||² = Σ_m ||x_m - y_m||²``). A vector encodes as M small code
ids (M·log2(k) bits, e.g. 64 dims → 8 bytes at M=8, k=256), and
asymmetric distance computation (ADC) scores a query against encoded
vectors with M table lookups instead of d multiplies.

Spark-first shapes:

- **Training** treats the subspace index as a DATA dimension: each
  vector explodes into M ``(m, subvec)`` rows once, and every Lloyd
  iteration is ONE corpus scan + one ``(m, cell, pos)``-keyed aggregate
  that updates all M codebooks together (iters+1 scans total including
  the seed pass) — not M sequential per-subspace jobs.
- **Encoding** is a ZERO-shuffle projection: all M codebooks collapse
  into one literal/broadcast structure and each row takes M small
  argmin folds.
- **ADC search** precomputes the M×k query-to-codeword table
  DRIVER-side (M·k·(d/M) = d·k multiplies, microseconds), embeds it as
  a literal, and scores every encoded row with M ``element_at`` lookups
  — a pure projection followed by TakeOrderedAndProject for top-k.
- **IVF-PQ search** decides the probed cells on the driver and scores
  the corpus in ONE ``mapInPandas`` pass (assign cell → keep probed
  rows → encode → ADC) followed by TakeOrderedAndProject: no probe
  join, no materialized assignment or codes between the steps.

``pq_encode``/``pq_adc_topk`` are driver-oracle queries
(``queries/pipeline_ext.py``); pytest additionally pins exactness of the
L2 decomposition, encode determinism, and recall sanity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from interop_spark.operators.kernels import (
    adc_sum,
    assign_nearest,
    forget_zip_finders,
    pq_codes,
    stack,
    sumsq_lr,
    valid_rows,
)
from interop_spark.operators.similarity import (
    as_double,
    collect_centroids,
    probe_cells,
)


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two arrays (double, left-to-right
    accumulation — the engine's cross-engine-reproducible fold shape)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def subvector(vec: Column, m: int, sub_dim: int) -> Column:
    """Subspace slice m (0-based) of width ``sub_dim``."""
    return F.slice(vec, m * sub_dim + 1, sub_dim)


def pq_train(
    df: DataFrame,
    m_subspaces: int = 8,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks with Lloyd iterations under L2.

    Returns ``codebooks[m][c] = centroid (list of d/M floats)`` —
    deterministic (first-k seeding by lowest id, no RNG). The return is
    a plain Python structure because codebooks are tiny (M·k·(d/M) =
    d·k doubles) and become literals in encode/search plans.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by M={m_subspaces}")
    sub_dim = dim // m_subspaces
    # deterministic first-k seeding: the k lowest-id FULL vectors in one
    # bounded job, sliced into the M×k seed codewords driver-side —
    # identical seeds to slicing per subspace, at 1/M the scans.
    seeds = (
        df.select(col(id_col).alias("sid"), as_double(col(vec_col)).alias("v"))
        .orderBy("sid")
        .limit(k)
        .collect()
    )
    cbs: list[list[list[float]]] = [
        [
            [float(x) for x in r["v"][m * sub_dim : (m + 1) * sub_dim]]
            for r in seeds
        ]
        for m in range(m_subspaces)
    ]
    # subspace index as a data dimension: ONE Arrow-vectorized codes
    # pass per Lloyd iteration assigns all M subspaces at once
    # (pq_codes_udf — r20; the r19 shape exploded (m, sv) rows and paid
    # the interpreted argmin fold per subspace-row), then one
    # (m, cell, pos)-keyed aggregate updates all M codebooks together
    # (shuffle carries map-side combined partials, never raw vectors —
    # kmeans.centroid_update's shape, keyed by subspace as well as
    # cell). Its at most k·d rows — the size of the codebooks returned
    # — are collected and each codeword is assembled driver-side in
    # ``pos`` order: one shuffle per iteration. A NULL/wrong-dim vector
    # yields NULL codes, and posexplode(NULL) emits nothing — identical
    # net contribution to the r19 fold shape (NULL sv rows exploded to
    # zero (pos, v) rows).
    for _ in range(iters):
        enc = df.select(
            as_double(col(vec_col)).alias("_v"),
            pq_codes_udf(cbs)(col(vec_col)).alias("_codes"),
        )
        rows = (
            enc.select(F.posexplode("_codes").alias("m", "cell"), "_v")
            .select(
                "m",
                "cell",
                F.posexplode(
                    F.expr(f"slice(_v, m * {sub_dim} + 1, {sub_dim})")
                ).alias("pos", "v"),
            )
            .groupBy("m", "cell", "pos")
            .agg(F.round(F.avg(col("v").cast("double")), 9).alias("mu"))
            .collect()
        )
        mus: dict = {}
        for r in rows:
            mus.setdefault((int(r["m"]), int(r["cell"])), {})[
                int(r["pos"])
            ] = float(r["mu"])
        new = {key: [mu[p] for p in sorted(mu)] for key, mu in mus.items()}
        # empty cells keep their previous codeword (standard practice).
        # Iterate the ACTUAL codebook length, not k: first-k seeding on a
        # corpus with fewer than k vectors yields a shorter seed list, and
        # assigned cells can only reference those existing codewords.
        cbs = [
            [new.get((m, c), cbs[m][c]) for c in range(len(cbs[m]))]
            for m in range(m_subspaces)
        ]
    return cbs


def _codebook_literal(cb_m: list[list[float]]) -> Column:
    # ONE F.expr parse instead of k·d py4j Column constructions — plan
    # construction was the dominant cost of every PQ query (r19; see
    # similarity.query_vector_literal). Bit-identical literals.
    import math

    from interop_spark.operators.similarity import matrix_literal_sql

    if all(math.isfinite(float(x)) for c in cb_m for x in c):
        return F.expr(matrix_literal_sql(cb_m))
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cb_m]
    )


def _table_literal(rows: list[list[float]]) -> Column:
    """2-D double-array literal, fast path (see _codebook_literal)."""
    import math

    from interop_spark.operators.similarity import matrix_literal_sql

    if all(math.isfinite(float(x)) for r in rows for x in r):
        return F.expr(matrix_literal_sql(rows))
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in r]) for r in rows]
    )


def pq_codes_udf(codebooks: list[list[list[float]]]):
    """Arrow-vectorized twin of the per-subspace ``_argmin_code`` folds:
    a ``pandas_udf`` mapping a full vector to its ``array<int>`` of M PQ
    codes in ONE ArrowEvalPython pass (r20 optimization round, guide §4
    — the interpreted ``F.aggregate`` folds were the family's dominant
    executor cost; numpy does the same arithmetic on whole batches).

    Bit-exactness contract (pinned by
    ``test_pq_codes_udf_bitexact_vs_fold``): the codes are
    ``kernels.pq_codes`` — ``sumsq_lr`` of the difference (the ``l2sq``
    fold's IEEE-754 sequence), ``round_spark`` round-9, the FIRST
    minimum (the fold's strict ``<``), NaN distances never winning and
    an all-NaN row taking the fold's initial code 0. A NULL or
    wrong-dimension vector yields NULL codes (callers mask the same way
    ``pq_encode`` always has)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cbs = [np.asarray(cb_m, dtype=np.float64) for cb_m in codebooks]
    dim = cbs[0].shape[1] * len(cbs)

    @pandas_udf("array<int>")
    def _codes(s):
        forget_zip_finders()
        import pandas as pd

        vals = list(s)
        out = [None] * len(vals)
        rows = valid_rows(vals, dim)
        codes = pq_codes(stack(vals, rows, dim), cbs)
        for row_i, i in enumerate(rows):
            out[i] = codes[row_i]
        return pd.Series(out)

    return _codes


def _argmin_code_col(sv: Column, cb_col: Column) -> Column:
    """0-based code of the L2-nearest codeword in ``cb_col`` (an
    ``array<array<double>>`` Column) — a fold carrying (best_dist,
    best_idx, cur_idx); ties go to the LOWEST code id (strict <),
    deterministically. Since r20 this interpreted fold is the REFERENCE
    TWIN of the Arrow-vectorized ``pq_codes_udf`` (which the hot paths
    use); ``test_pq_codes_udf_bitexact_vs_fold`` pins their equality on
    the real fixtures. The distance is rounded to 9 decimals before
    comparison — the engine-wide argmin/argmax posture (same as
    ``ivf_assign``'s cosine): summation-order ULP differences between
    engines must not flip a near-tie."""
    init = F.struct(
        F.lit(float("inf")).alias("bd"),
        F.lit(0).alias("bi"),
        F.lit(0).alias("i"),
    )

    def _step(a, cw):
        d = F.round(l2sq(sv, cw), 9)
        better = d < a["bd"]
        return F.struct(
            F.when(better, d).otherwise(a["bd"]).alias("bd"),
            F.when(better, a["i"]).otherwise(a["bi"]).alias("bi"),
            (a["i"] + 1).alias("i"),
        )

    return F.aggregate(cb_col, init, _step, lambda a: a["bi"])


def _argmin_code(sv: Column, cb_m: list[list[float]]) -> Column:
    return _argmin_code_col(sv, _codebook_literal(cb_m))


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector as M code ids: ``(id[, *keep], codes
    array<int>)``. Pure projection — one Arrow-vectorized codes pass
    per row (``pq_codes_udf``; r20 — the r19 shape paid M interpreted
    argmin folds per row), zero shuffle. ``keep`` carries extra columns
    through (e.g. an IVF cell).

    A NULL or wrong-dimension vector yields NULL codes (the module's
    ``ivf_assign`` null contract) — enforced inside the UDF; without it
    such rows would silently encode as centroid 0 in every subspace,
    then outrank real neighbors in ADC search."""
    return df.select(
        col(id_col),
        *keep,
        pq_codes_udf(codebooks)(col(vec_col)).alias("codes"),
    )


def _adc_table(
    query: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """The M×k ADC table ``table[m][c] = ||q_m - codebook[m][c]||²``,
    computed on the driver (d·k multiplies)."""
    sub_dim = len(codebooks[0][0])
    return [
        [
            sum(
                (query[m * sub_dim + j] - cw[j]) ** 2
                for j in range(sub_dim)
            )
            for cw in cb_m
        ]
        for m, cb_m in enumerate(codebooks)
    ]


def pq_adc_topk(
    encoded: DataFrame,
    query: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Asymmetric distance search: score = Σ_m table[m][code_m], where
    ``table[m][c] = ||q_m - codebook[m][c]||²`` is computed DRIVER-side
    (d·k multiplies) and embedded as a literal. Returns the k rows with
    smallest approximate squared L2 distance (``adc_dist``) —
    projection + TakeOrderedAndProject, no shuffle."""
    tbl = _table_literal(_adc_table(query, codebooks))
    dist = F.round(
        F.aggregate(
            F.zip_with(
                col("codes"), tbl, lambda c, row: F.element_at(row, c + 1)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        9,  # round-9 before ranking: the top-k BOUNDARY must not
        #     depend on cross-engine summation-order ULPs (with the
        #     id tie-break below, the k-th row is then deterministic)
    )
    return (
        encoded.select(col(id_col), *keep, dist.alias("adc_dist"))
        .orderBy(col("adc_dist").asc(), col(id_col).asc())
        .limit(k)
    )


def _ivfpq_scan(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    probe: list[int],
    codebooks: list[list[list[float]]],
    table_of,
    id_col: str,
    vec_col: str,
    residual: bool = False,
) -> DataFrame:
    """The IVF-PQ scoring pass: ONE ``mapInPandas`` over ``(id, vec)``
    that assigns each vector its cell (``kernels.assign_nearest``, as
    ``ivf_assign``), keeps the rows in the ``probe`` cells, PQ-encodes
    them (``kernels.pq_codes``, as ``pq_encode``; of the residual
    ``x − centroid(cell)`` when ``residual``) and scores them against
    their cell's ADC table ``table_of(cell)`` (``kernels.adc_sum``, as
    ``pq_adc_topk``'s round-9 fold). Yields ``(id, cell, adc_dist)``.

    A NULL or wrong-dimension vector has no cell and is dropped, as the
    probe join dropped its NULL cell. A row whose dimension fits the
    centroids but not the codebooks scores NULL, as its NULL codes did;
    a NaN distance stays NaN (an Arrow-backed column, so the pandas→Arrow
    conversion does not turn it into NULL)."""
    import numpy as np
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    karr = np.asarray([k for k, _ in cents], dtype=np.int64)
    C = np.asarray([v for _, v in cents], dtype=np.float64)
    dim = C.shape[1] if len(cents) else -1
    cn = np.sqrt(sumsq_lr(C)) if len(cents) else None
    cbs = [np.asarray(cb_m, dtype=np.float64) for cb_m in codebooks]
    codes_fit = dim == cbs[0].shape[1] * len(cbs)
    # positions (into cents) of the probed cells, ascending, and one
    # (M, k) ADC table per probed cell
    probe_pos = np.flatnonzero(np.isin(karr, probe))
    T = np.asarray(
        [table_of(int(karr[p])) for p in probe_pos], dtype=np.float64
    ).reshape(len(probe_pos), len(cbs), len(codebooks[0]))
    schema = StructType(
        [
            df.schema[id_col],
            StructField("cell", LongType()),
            StructField("adc_dist", DoubleType()),
        ]
    )

    def _scan(batches):
        forget_zip_finders()
        import pandas as pd
        import pyarrow as pa

        for pdf in batches:
            vals = list(pdf[vec_col])
            rows = valid_rows(vals, dim) if len(probe_pos) else []
            if not rows:
                continue
            X = stack(vals, rows, dim)
            best = assign_nearest(X, C, cn)[0]
            hit = np.isin(best, probe_pos)
            X, best = X[hit], best[hit]
            if residual:
                X = X - C[best]
            if codes_fit:
                which = np.searchsorted(probe_pos, best)
                dist = pa.array(adc_sum(T, which, pq_codes(X, cbs)))
            else:
                dist = pa.nulls(len(best), pa.float64())
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col]
                    .iloc[np.asarray(rows)[hit]]
                    .reset_index(drop=True),
                    "cell": karr[best],
                    "adc_dist": pd.Series(
                        dist, dtype=pd.ArrowDtype(pa.float64())
                    ),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(_scan, schema)


def ivfpq_search(
    df: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composed index search — the realistic 100 TB ANN layout:
    coarse IVF cells hold PQ codes, and a query ADC-scores only the
    rows in its ``nprobe`` nearest cells (Jégou et al. 2011 §V).

    The C-row centroid table is collected once (``collect_centroids``);
    the probed cells (``probe_cells``, the driver twin of
    ``query_cells``) and the ADC table are decided on the driver. The
    corpus is then scored in one ``mapInPandas`` pass
    (``_ivfpq_scan``: assign → keep probed rows → encode → ADC) and
    TakeOrderedAndProject keeps the top k by (adc_dist, id): zero
    shuffles and no broadcast on the corpus side. Returns ``(id, cell,
    adc_dist)``, equal to the assign → encode → probe join → ADC chain
    it replaced (pinned in ``tests/test_operators.py``). On a cluster
    the encoded (cell, codes) table is the written index and a search
    touches ~nprobe/C of it via cell-partition pruning."""
    cents = collect_centroids(centroids)
    table = _adc_table(query, codebooks)
    return (
        _ivfpq_scan(
            df,
            cents,
            probe_cells(query, cents, nprobe),
            codebooks,
            lambda cell: table,
            id_col,
            vec_col,
        )
        .orderBy(col("adc_dist").asc(), col(id_col).asc())
        .limit(k)
    )


def ivfpq_residual_search(
    df: DataFrame,
    centroids: DataFrame,
    query: list[float],
    m_subspaces: int = 4,
    k_codes: int = 16,
    iters: int = 1,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (Jégou et al. 2011 §V.B — the
    production IVF-PQ): PQ codebooks train on ``x − centroid(cell)``
    rather than raw vectors, concentrating the quantizer's budget on
    the within-cell displacement, and ADC uses a PER-CELL distance
    table built from the query's residual against each probed cell.

    The centroid table is read once (``collect_centroids``). Training
    reads the residuals of the vectors that have a cell: the
    ``nearest_centroid_udf`` assignment and a literal cell → centroid
    map, with no join. The probed cells come from ``probe_cells`` and
    each probed cell's table is built on the driver; the search is
    ``ivfpq_search``'s single ``mapInPandas`` pass over residuals,
    then TakeOrderedAndProject. Raises ``ValueError`` on an empty
    centroid table."""
    from interop_spark.operators.similarity import nearest_centroid_udf

    cents = collect_centroids(centroids)
    if not cents:
        raise ValueError("ivfpq_residual_search needs at least one centroid")
    cent_vec = F.map_from_arrays(
        F.expr("array(" + ",".join(f"{c}L" for c, _ in cents) + ")"),
        _table_literal([v for _, v in cents]),
    )
    vec = col(vec_col)
    # a vector gets a cell exactly when it is non-NULL with the
    # centroids' dimension: filter on that, never on the UDF's output
    res = (
        df.where(vec.isNotNull() & (F.size(vec) == len(cents[0][1])))
        .select(col(id_col), vec, nearest_centroid_udf(cents)(vec).alias("cell"))
        .select(
            col(id_col),
            F.zip_with(
                as_double(vec),
                F.element_at(cent_vec, col("cell")),
                lambda x, y: x - y,
            ).alias("_res"),
        )
    )
    cbs = pq_train(
        res, m_subspaces, k_codes, iters, id_col=id_col, vec_col="_res",
        dim=dim,
    )
    cent_vecs = dict(cents)

    def _table(cell: int) -> list[list[float]]:
        qres = [query[i] - cent_vecs[cell][i] for i in range(len(query))]
        return _adc_table(qres, cbs)

    return (
        _ivfpq_scan(
            df,
            cents,
            probe_cells(query, cents, nprobe),
            cbs,
            _table,
            id_col,
            vec_col,
            residual=True,
        )
        .orderBy(col("adc_dist").asc(), col(id_col).asc())
        .limit(k)
    )


def ivfpq_rerank(
    df: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    shortlist: int | None = None,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval with EXACT refinement — the FAISS
    ``IndexRefineFlat`` shape and the standard production recipe for
    recovering recall lost to PQ compression: (1) ``ivfpq_search``
    produces a compressed-domain ADC shortlist of ``shortlist``
    (default 3k) candidates, (2) only those candidates' RAW vectors are
    re-scored with exact squared L2 and the final top-k is ordered by
    the exact distance (round-9, id tiebreak — the engine's
    cross-engine posture).

    Plan shape: stage 1 is the zero-corpus-shuffle ivfpq chain; stage 2
    broadcasts the ≤``shortlist``-row candidate table against the
    vector source, so the refinement is a broadcast-semi-join + one
    projection — never a second ranking pass over the corpus. At
    100 TB the raw-vector fetch is a point-lookup join against the
    id-bucketed vector table; candidate count is a constant.

    Returns ``(id, cell, adc_dist, exact_dist)`` — keeping the ADC
    rank's distance alongside the exact one makes the refinement's
    reordering observable (and oracle-checkable)."""
    shortlist = 3 * k if shortlist is None else shortlist
    cand = ivfpq_search(
        df, centroids, codebooks, query,
        k=shortlist, nprobe=nprobe, id_col=id_col, vec_col=vec_col,
    )
    from interop_spark.operators.similarity import query_vector_literal

    qv = query_vector_literal(query)
    exact = F.round(l2sq(as_double(col(vec_col)), as_double(qv)), 9)
    return (
        df.join(F.broadcast(cand), id_col)
        .select(col(id_col), col("cell"), col("adc_dist"),
                exact.alias("exact_dist"))
        .orderBy(col("exact_dist").asc(), col(id_col).asc())
        .limit(k)
    )
