"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Algorithms are the classic public constructions: MinHash resemblance
sketches (Broder, "On the resemblance and containment of documents",
1997) with banded LSH amplification, and SimHash (Charikar, "Similarity
estimation techniques from rounding algorithms", STOC 2002).

Scale design
------------
- Exact dedup is a hash-groupBy on a fingerprint — one shuffle keyed by the
  md5, which distributes uniformly (no skew) at any scale.
- MinHash signatures are per-row HOF expressions (no shuffle); LSH banding
  turns the quadratic all-pairs problem into an equi-join on (band, key) —
  the join key space grows with corpus size, so candidate buckets stay
  small and AQE handles stragglers.
- Portability: hash family is md5-of-(seed || shingle) with lexicographic
  min, which any engine reproduces exactly (used by the DuckDB oracle).
- SimHash packs 60 bits from md5-derived token hashes; the wide variant
  packs 120 bits (two bigint halves) so candidate bands are 30 bits wide —
  a ~1B-value key space whose bucket occupancy stays O(1) into the
  billions of documents (15-bit bands saturate at ~32k keys/band and go
  quadratic as the corpus grows).
- Candidate pairing is a self-equi-join on the band key, NOT a per-bucket
  collect_list: the join shuffles only (band_key, doc_id) pairs, AQE can
  split a skewed band, and no task ever materializes a whole bucket in
  one array. Shingles/vectors are re-joined from the compact doc table
  only for the candidate pairs that survive banding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from interop_spark.operators.text import fingerprint, tokens, word_ngrams

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit long


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document (the SET form of
    ``text.word_ngrams`` — one shared construction so the short-doc
    clamp semantics can never diverge between the dedup and
    repetition-signal paths)."""
    return F.array_distinct(word_ngrams(text, n))


def _seeded_md5(j: int):
    # factory, NOT a default-arg lambda: a binary lambda passed to
    # F.transform receives (element, index) — the index Column would
    # silently replace the seed (and its auto-generated name varies per
    # plan, making results nondeterministic across plan constructions)
    prefix = f"{j}|"
    return lambda s: F.md5(F.concat(F.lit(prefix), s))


def minhash_signature(shingles: Column | str, k: int = 12) -> Column:
    """k-element MinHash signature: for seed j, min over shingles of
    md5(j || '|' || shingle), compared lexicographically (portable across
    engines — no engine-specific 64-bit hash needed).

    Pass the shingle COLUMN NAME (str) to build the whole k-seed tree as
    ONE ``F.expr`` SQL parse instead of ~6k py4j round-trips per seed —
    plan construction was ~0.5 s of every minhash query's per-rep cost
    (r20 optimization round; the parsed tree is expression-identical, see
    ``test_minhash_signature_expr_equivalent``). The Column path remains
    for callers holding a derived expression."""
    if isinstance(shingles, str):
        terms = ",".join(
            f"array_min(transform({shingles}, s -> md5(concat('{j}|', s))))"
            for j in range(k)
        )
        return F.expr(f"array({terms})")
    return F.array(
        *[F.array_min(F.transform(shingles, _seeded_md5(j))) for j in range(k)]
    )


def band_key(sig: Column, b: Column, rows: int) -> Column:
    """LSH key of band ``b`` (0-based) of a MinHash signature: the band
    index, ``':'``, then the md5 of the band's ``rows`` signature
    elements joined by ``'|'``. The one band-key layout — batch band
    tables, stream probes and ``lsh_band_keys`` all derive keys here, so
    a probe always meets the index it was built against."""
    return F.concat(
        b.cast("string"),
        F.lit(":"),
        F.md5(
            F.concat_ws(
                "|",
                *[F.element_at(sig, b * rows + (r + 1)) for r in range(rows)],
            )
        ),
    )


def lsh_band_keys(signature: Column, bands: int = 4, rows: int = 3) -> Column:
    """Band the signature into an array of ``bands`` band keys
    (``band_key``). Docs sharing any key become candidate pairs. Pass a
    projected signature COLUMN: an inline signature expression is
    re-evaluated once per band inside the lambda."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: band_key(signature, b, rows),
    )


def _check_band_shape(k: int, bands: int, rows: int) -> None:
    if k < bands * rows:
        raise ValueError(
            f"minhash signature too short: k={k} < bands*rows={bands * rows}"
        )


def band_table(
    sig_df: DataFrame, k: int, bands: int, rows: int, *carry: str
) -> DataFrame:
    """One row per (document, band) of a frame holding a ``k``-element
    MinHash signature column ``sig``: the ``carry`` columns plus
    ``band_key``. Raises ``ValueError`` at construction when the
    signature is shorter than ``bands * rows``.

    Explodes a CONSTANT band-index sequence and derives each key after
    the explode: exploding the band-key array itself lets
    InferFiltersFromGenerate push the whole signature expression into
    the scan filter, hashing every row twice."""
    _check_band_shape(k, bands, rows)
    return sig_df.select(
        *carry,
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("_b"),
        F.col("sig"),
    ).select(
        *carry, band_key(F.col("sig"), F.col("_b"), rows).alias("band_key")
    )


def drop_hot_keys(
    df: DataFrame,
    keys: list[str],
    cap: int | None,
    distinct: str | None = None,
) -> DataFrame:
    """Hot-key guard for a self-join on ``keys``: drop every key shared
    by more than ``cap`` rows (or, with ``distinct``, by more than
    ``cap`` distinct values of that column) BEFORE the join, which
    would otherwise emit O(n²) pairs for it. ``cap=None`` returns ``df``
    unchanged."""
    if cap is None:
        return df
    n = F.count(F.lit(1)) if distinct is None else F.countDistinct(distinct)
    keep = (
        df.groupBy(*keys)
        .agg(n.alias("_nd"))
        .where(F.col("_nd") <= cap)
        .select(*keys)
    )
    return df.join(keep, keys)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.round(inter / F.greatest(union, F.lit(1)), 4)


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint: representative
    id (min), group size. One uniform shuffle; scales linearly."""
    return (
        df.select(
            fingerprint(F.col(text_col)).alias("fp"), F.col(id_col).alias("_id")
        )
        .groupBy("fp")
        .agg(
            F.min("_id").alias("representative_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands: int = 4,
    rows: int = 3,
    shingle_n: int = 3,
    max_band_docs: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidates with exact-Jaccard verification.

    Pipeline: shingle → signature → band keys → explode → band-key
    self-join → distinct (a < b) pairs → exact Jaccard on the shingle sets.

    Scale shape: the shuffle carries ONLY (band_key, doc_id) — the shingle
    arrays (~10× the id bytes) never enter the exchange. Candidates come
    from a self-equi-join on band_key (AQE-splittable if a band skews,
    unlike a per-bucket collect_list, which caps bucket size at one task's
    memory), are deduped to distinct (a < b) pairs, and only then re-join
    the compact shingle table twice for exact-Jaccard verification. The
    shingle and band tables are checkpointed, so the hashing runs ONCE
    instead of once per self-join side plus once per verification side.

    The signature work runs at the input's width; ``io.load_spread``
    owns that choice.

    ``max_band_docs`` is the hot-band guard (``drop_hot_keys``): a band
    key shared by more than that many documents — a boilerplate
    mega-cluster — is dropped BEFORE the self-join, which otherwise
    emits O(cluster²) pairs per band for that cluster. Default ``None``
    preserves exact candidate-generation semantics (the oracle's); pass
    a cap at corpus scale and collapse exact-identical texts first
    (fingerprint keep-list, as ``corpus_clean`` does) so the guard only
    ever trims pathological near-identical clusters, whose pairs a
    cluster-level output (``dedup_clusters``) represents without
    enumerating.
    """
    cand, shing = _minhash_candidates(
        df,
        id_col,
        text_col,
        k=k,
        bands=bands,
        rows=rows,
        shingle_n=shingle_n,
        max_band_docs=max_band_docs,
    )
    a = shing.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("_sh_a")
    )
    b = shing.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("_sh_b")
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jaccard(F.col("_sh_a"), F.col("_sh_b")).alias("jaccard_sim"),
        )
    )


def _minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands: int = 4,
    rows: int = 3,
    shingle_n: int = 3,
    max_band_docs: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Candidate generation core of ``minhash_candidate_pairs``: returns
    the distinct (doc_a < doc_b) band-join candidates AND the shingle
    table, so callers that verify with something other than exact
    Jaccard (``edit_verified_pairs``' Levenshtein) can skip the two
    shingle re-joins entirely — the unused shingle frame is lazy and
    never enters their plan."""
    shing, banded = _shingle_band_tables(
        df, id_col, text_col, k, bands, rows, shingle_n
    )
    banded = drop_hot_keys(banded, ["band_key"], max_band_docs)
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return cand, shing


def _bit_powers() -> Column:
    """Constant array [2^0 .. 2^59] as bigint — bit b of hash h is tested
    with ``h & 2^b`` (bitwiseAND/shiftleft, never `/` or pow(), which
    route through double and lose precision past 2^53). Built as ONE
    expression (constant-folded by Catalyst) rather than 60 ``F.lit``
    py4j calls — the literal-per-bit form added ~0.5s of pure DataFrame
    construction time per query."""
    return F.expr(
        f"transform(sequence(0, {SIMHASH_BITS - 1}),"
        f" b -> shiftleft(cast(1 as bigint), b))"
    )


def token_hashes(text: Column) -> Column:
    """60-bit integer hash per distinct token (md5-derived, portable)."""
    return F.transform(
        F.array_distinct(tokens(text)),
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("bigint"),
    )


def simhash_of_hashes(th: Column) -> Column:
    """60-bit SimHash over a pre-computed token-hash array: bit b of the
    result is the majority vote of bit b across tokens.

    One pass over the array: ``F.aggregate`` folds each token hash into an
    array of 60 bit-counters (zip_with against the literal power array),
    then a second 60-element fold packs the majority bits into one bigint.
    (The naive form — 60 separate ``F.filter`` passes — re-traverses the
    token array per bit and was the most expensive expression in the
    round-1 bench.)"""
    powers = _bit_powers()
    n = F.size(th)
    counts = F.aggregate(
        th,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda c, p: c
            + F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(0)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            powers,
            lambda c, p: F.when(c * 2 > n, p).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def simhash(text: Column) -> Column:
    """Single-expression SimHash (convenience form; for hot paths
    materialize ``token_hashes`` into a column and use
    ``simhash_of_hashes`` — see the pipeline queries)."""
    return simhash_of_hashes(token_hashes(text))


def simhash_bands(sim: Column, bands: int = 4) -> Column:
    """Split the 60-bit simhash into ``bands`` equal bit-slices. Hamming
    distance ≤ bands-1 guarantees at least one identical band."""
    width = SIMHASH_BITS // bands
    return F.array(
        *[
            F.shiftright(sim, b * width) % F.lit(1 << width).cast("bigint")
            for b in range(bands)
        ]
    )


# --------------------------------------------------------------------------
# Wide (120-bit) SimHash — the scale path for banded near-dup joins
# --------------------------------------------------------------------------

WIDE_BITS = 120  # two 60-bit bigint halves from md5 hex chars 1-15, 16-30
WIDE_BAND_BITS = 30  # 4 bands × 30 bits → ~1.07e9 keys per band


def token_hashes_wide(text: Column) -> Column:
    """120-bit token hash as struct<hi,lo>: two 60-bit slices of the
    token's md5 (hex chars 1-15 and 16-30).

    The md5 is evaluated ONCE per token (a first ``transform`` binds the
    hex digest, a second slices both halves) — the fused form computed
    ``F.md5(w)`` twice per token because HOF lambdas get no common-
    subexpression elimination, and the round-4 scaling probes showed the
    digest is the dominant per-doc signature cost. Values are identical
    to the fused form (same digest, same slices), so the DuckDB oracle
    and all downstream simhash results are unchanged."""
    digests = F.transform(F.array_distinct(tokens(text)), lambda w: F.md5(w))
    return F.transform(
        digests,
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint").alias("hi"),
            F.conv(F.substring(h, 16, 15), 16, 10).cast("bigint").alias("lo"),
        ),
    )


def simhash_wide_of_hashes(th: Column) -> Column:
    """120-bit SimHash as struct<hi,lo> over ``token_hashes_wide`` output.
    Each half is the one-pass 60-bit fold; total work is two traversals of
    the token array regardless of bit width."""
    hi = simhash_of_hashes(F.transform(th, lambda x: x["hi"]))
    lo = simhash_of_hashes(F.transform(th, lambda x: x["lo"]))
    return F.struct(hi.alias("hi"), lo.alias("lo"))


def simhash_wide_bands(sh: Column) -> Column:
    """Four 30-bit bands of a 120-bit simhash (2 per half). The 2³⁰ key
    space per band keeps expected bucket occupancy O(1) into the billions
    of documents — the scale fix over 15-bit bands, whose 32k key space
    makes buckets (and the candidate join) grow linearly with the corpus.
    Hamming ≤ 3 across the 120 bits still guarantees a shared band."""
    mask = F.lit((1 << WIDE_BAND_BITS) - 1).cast("bigint")
    return F.array(
        sh["hi"].bitwiseAND(mask),
        F.shiftright(sh["hi"], WIDE_BAND_BITS).bitwiseAND(mask),
        sh["lo"].bitwiseAND(mask),
        F.shiftright(sh["lo"], WIDE_BAND_BITS).bitwiseAND(mask),
    )


def hamming_wide(a: Column, b: Column) -> Column:
    """Hamming distance between two 120-bit simhash structs."""
    return F.bit_count(a["hi"].bitwiseXOR(b["hi"])) + F.bit_count(
        a["lo"].bitwiseXOR(b["lo"])
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hamming_max: int = 12,
    max_band_docs: int | None = None,
) -> DataFrame:
    """Banded SimHash near-duplicate pairs at the scale-safe width: docs
    sharing any 30-bit band of their 120-bit simhash become candidates
    via a band-key SELF-JOIN, verified by Hamming ≤ ``hamming_max`` over
    the full 120 bits (the single body behind ``simhash_neardup_pairs``
    and the bench scaling probe).

    Scale shape: the self-join shuffles only (band_idx, band_val,
    doc_id, sh) — AQE-splittable, no per-bucket collect_list; 30-bit
    bands give a ~1B key space per band so bucket occupancy stays O(1)
    as the corpus grows. The signature table is checkpointed so the
    hash pipeline runs once, not once per join side.

    ``max_band_docs`` is the hot-band guard (``drop_hot_keys``), as in
    ``minhash_candidate_pairs``: a band value shared by more than that
    many documents (a boilerplate / template mega-cluster, or short docs
    whose majority-vote bits collapse onto the corpus's common-token
    signature) is dropped BEFORE the self-join, which otherwise emits
    O(cluster²) candidate pairs for that band. Default ``None``
    preserves exact candidate semantics (the driver oracle's); at corpus
    scale pass a cap and collapse exact-identical texts first so the
    guard only trims pathological clusters, whose membership a
    cluster-level output (``dedup_clusters``) represents without
    enumerating pairs.
    Recall note: a doc pair trimmed from one hot band still pairs
    through any of its other 3 bands, so only pairs agreeing SOLELY on
    a mega-cluster band are lost."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        simhash_wide_of_hashes(token_hashes_wide(F.col(text_col))).alias(
            "sh"
        ),
    ).localCheckpoint()
    banded = sh.select(
        "doc_id",
        "sh",
        F.posexplode(simhash_wide_bands(F.col("sh"))).alias(
            "band_idx", "band_val"
        ),
    )
    banded = drop_hot_keys(banded, ["band_idx", "band_val"], max_band_docs)
    return (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            hamming_wide(F.col("l.sh"), F.col("r.sh"))
            .cast("int")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= hamming_max)
        .distinct()
    )


def dedup_clusters(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document gets
    the MIN doc id reachable through the pair graph as its cluster id —
    the step that turns pairwise candidates into "keep one representative
    per duplicate cluster".

    Algorithm: min-label propagation to fixpoint. Each iteration is one
    shuffle join (neighbor-min) + a convergence check; lineage is
    truncated per iteration with ``localCheckpoint`` so plans stay flat.
    Iterations are bounded by component DIAMETER — near-dup clusters are
    shallow (clones + chains), so 2-4 rounds converge. Raises
    ``RuntimeError`` if a fixpoint is not reached within ``max_iters``
    (a silent partial result would split long duplicate chains into
    multiple clusters and a keep-one-representative consumer would keep
    extra near-duplicates). For adversarial diameters use
    ``dedup_clusters_star`` (large-star/small-star; Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014), which
    converges in O(log^2 n) rounds regardless of diameter.
    """
    e = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    # the symmetric edge frame is re-joined EVERY propagation round —
    # checkpoint it once so each round reads materialized edges instead
    # of replaying the pair derivation + union + distinct shuffle (r19
    # optimization round; the labels frame already had this treatment)
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nb = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("nb_node"))
            .agg(F.min("label").alias("nb_label"))
        )
        # carry the convergence flag THROUGH the checkpoint: the
        # changed-row probe then scans the materialized frame instead
        # of re-joining new labels against old per round (r19)
        new_labels = (
            labels.join(nb, labels["node"] == nb["nb_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nb_label", "label")
                ).alias("label"),
                (F.coalesce("nb_label", "label") < F.col("label")).alias(
                    "_chg"
                ),
            )
            .localCheckpoint()
        )
        converged = new_labels.where(F.col("_chg")).isEmpty()
        labels = new_labels.drop("_chg")
        if converged:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters: min-label propagation did not converge within "
            f"max_iters={max_iters} (a component's diameter exceeds the "
            f"iteration bound); raise max_iters or use dedup_clusters_star"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster"))


def dedup_clusters_star(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iters: int = 40,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — same (doc_id, cluster) contract as ``dedup_clusters``
    but converges in O(log^2 n) rounds INDEPENDENT of component
    diameter, which is what survives adversarial duplicate chains at
    100 TB (min-label propagation needs diameter rounds).

    Each operation is one groupBy over the edge set:

    - large-star: every node connects its strictly-larger neighbors to
      its minimum neighbor (incl. itself);
    - small-star: every node connects its smaller-or-equal neighbors to
      its minimum neighbor.

    Edges monotonically point toward component minima; at fixpoint the
    edge set is exactly a star per component rooted at the component's
    min node, which IS the (node → cluster) labeling.
    """
    e = pairs.select(F.col(a).alias("u"), F.col(b).alias("v")).where(
        F.col("u") != F.col("v")
    )
    # canonical undirected edge set
    edges = (
        e.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )

    def _neighborhoods(ed: DataFrame) -> DataFrame:
        # symmetric adjacency (node, nbr) with self-loop so min includes self
        return ed.select("u", "v").unionByName(
            ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    for _ in range(max_iters):
        adj = _neighborhoods(edges)
        # large-star: for each node, attach neighbors > node to
        # min(neighborhood ∪ {node})
        mins = adj.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            adj.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the large-star output: attach neighbors <= node
        # (and the node) to the neighborhood min
        adj2 = _neighborhoods(large)
        small_nbrs = adj2.where(F.col("v") <= F.col("u"))
        mins2 = small_nbrs.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            small_nbrs.unionByName(
                mins2.select(F.col("u"), F.col("u").alias("v"))
            )
            .join(mins2, "u")
            .select(
                F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        converged = (
            small.subtract(edges).isEmpty() and edges.subtract(small).isEmpty()
        )
        edges = small
        if converged:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters_star: no fixpoint within max_iters={max_iters}"
        )
    # fixpoint edge set = stars rooted at component minima
    members = edges.select(
        F.col("v").alias("doc_id"), F.col("u").alias("cluster")
    )
    roots = edges.select(F.col("u").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("cluster")
    )
    return members.unionByName(roots)


# ---------------------------------------------------------------------------
# Exact substring deduplication (Lee et al., "Deduplicating Training Data
# Makes Language Models Better", ACL 2022 — public algorithm family). The
# suffix-array construction is replaced by a Spark-native strided
# fingerprint join: hash fixed-width character windows on a stride grid,
# equi-join window hashes across documents, and merge consecutive matched
# windows on each (doc_a, doc_b, diagonal) into maximal duplicated runs.
# A shared substring is detected when its occurrences sit on congruent
# stride offsets (the standard strided-fingerprinting tradeoff; shrink
# the stride — or use stride=1 — for full sensitivity at higher cost).


def substring_windows(
    df: DataFrame,
    w: int = 40,
    stride: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per (doc, grid position): ``(id, pos, h)`` where ``h`` is
    the md5 of the w-char window at 1-based ``pos`` — a zero-shuffle
    explode projection (~len/stride rows per doc)."""
    n = (
        F.when(
            F.length(F.col(text_col)) >= w,
            ((F.length(F.col(text_col)) - w) / stride).cast("int") + 1,
        )
        .otherwise(0)
    )
    wins = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.struct(
                (i * stride + 1).alias("pos"),
                F.md5(
                    F.substring(F.col(text_col), i * stride + 1, w)
                ).alias("h"),
            ),
        ),
    ).otherwise(F.array())
    return df.select(
        F.col(id_col), F.explode(wins).alias("_w")
    ).select(id_col, F.col("_w.pos").alias("pos"), F.col("_w.h").alias("h"))


def substring_dup_runs(
    df: DataFrame,
    w: int = 40,
    stride: int = 10,
    max_hash_docs: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal cross-document duplicated substring runs:
    ``(doc_a, doc_b, start_a, start_b, match_len, n_windows)`` with
    ``doc_a < doc_b`` and ``match_len = span + w`` chars.

    Plan shape: window projection → (optional) hash-frequency guard →
    self-equi-join on the window hash → per-(pair, diagonal) window
    run-merge. All shuffles are keyed by high-cardinality hashes or
    (pair, diagonal) keys; ``max_hash_docs`` drops boilerplate windows
    shared by more than that many documents (``drop_hot_keys``), which
    otherwise contribute O(n²) candidate pairs per hash (handle such
    runaway content with the doc-level dedup family instead). The
    window-hash table is checkpointed so the text is scanned and hashed
    ONCE instead of once per self-join side plus once for the guard."""
    from pyspark.sql.window import Window

    wins = substring_windows(df, w, stride, id_col, text_col)
    wins = drop_hot_keys(
        wins.localCheckpoint(), ["h"], max_hash_docs, distinct=id_col
    )
    a = wins.select(
        F.col(id_col).alias("doc_a"),
        F.col("pos").alias("pos_a"),
        "h",
    )
    b = wins.select(
        F.col(id_col).alias("doc_b"),
        F.col("pos").alias("pos_b"),
        "h",
    )
    m = a.join(b, "h").where(F.col("doc_a") < F.col("doc_b"))
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    m = m.select("doc_a", "doc_b", "pos_a", "pos_b", diag)
    win = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    prev = F.lag("pos_a").over(win)
    new_run = F.when(
        prev.isNull() | (F.col("pos_a") - prev != stride), 1
    ).otherwise(0)
    runs = m.withColumn(
        "run_id",
        F.sum(new_run).over(
            win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "run_id")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + w).alias("match_len"),
            F.count("*").alias("n_windows"),
        )
        .select(
            "doc_a",
            "doc_b",
            "start_a",
            "start_b",
            "match_len",
            "n_windows",
        )
    )


def winnow_select(hs: Column, w: int = 8) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — public algorithm): hash every k-gram, then in each window of
    ``w`` consecutive k-gram hashes select the minimum (rightmost on
    ties), recording each selection once. Guarantee: any substring
    match of length >= w + k - 1 shares at least one fingerprint —
    REGARDLESS of offset alignment, which the strided
    ``substring_windows`` grid cannot promise.

    Zero-shuffle per-doc expression pair: ``kgram_hash_structs`` builds
    the (hash, -pos) array once, and the per-window rightmost-min is
    ``array_min`` over its slices (lexicographic struct ordering: min
    hash, then max pos), so both Spark and the DuckDB oracle evaluate
    the identical selection rule. ``text`` must be a MATERIALIZED
    ``array<struct<h,np>>`` column produced by ``kgram_hash_structs``
    in its OWN projection — an inline expression referenced inside the
    window lambda would be re-evaluated once per window (O(m²) md5
    calls; measured pathological). Returns ``array<struct<h,np>>``
    (fingerprint hash, NEGATED 1-based k-gram position); empty array
    when there are fewer than ``w`` k-grams."""
    m = F.size(hs)
    sel = F.transform(
        F.sequence(F.lit(1), F.greatest(m - w + 1, F.lit(1))),
        lambda i: F.array_min(F.slice(hs, i, w)),
    )
    return F.when(m >= w, F.array_distinct(sel)).otherwise(
        F.array().cast("array<struct<h:string,np:int>>")
    )


def kgram_hash_structs(text: Column, k: int = 20) -> Column:
    """One (md5-of-k-gram, -pos) struct per 1-based position — the
    winnowing input array; empty when the text is shorter than k."""
    m = F.length(text) - k + 1
    arr = F.transform(
        F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
        lambda p: F.struct(
            F.md5(F.substring(text, p, k)).alias("h"),
            (-p).alias("np"),
        ),
    )
    return F.when(m >= 1, arr).otherwise(
        F.array().cast("array<struct<h:string,np:int>>")
    )


def winnow_dup_pairs(
    df: DataFrame,
    k: int = 20,
    w: int = 8,
    max_hash_docs: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document near-dup candidates from shared winnowing
    fingerprints: ``(doc_a, doc_b, n_shared, first_a, first_b)`` with
    ``doc_a < doc_b``, ``n_shared`` = distinct shared fingerprint
    hashes and ``first_*`` = each side's earliest fingerprinted k-gram
    position among the shared hashes. Same plan scale shape as
    ``substring_dup_runs``: per-doc projection → hash-frequency guard
    → self-equi-join on the fingerprint hash → pair aggregate. The
    fingerprint table is checkpointed so k-gram hashing + selection runs
    once, not once per join side."""
    hs = df.select(
        F.col(id_col),
        kgram_hash_structs(F.col(text_col), k).alias("_hs"),
    )
    fps = hs.select(
        F.col(id_col),
        F.explode(winnow_select(F.col("_hs"), w)).alias("_f"),
    ).select(
        id_col,
        F.col("_f.h").alias("h"),
        (-F.col("_f.np")).alias("pos"),
    )
    fps = drop_hot_keys(
        fps.localCheckpoint(), ["h"], max_hash_docs, distinct=id_col
    )
    a = fps.select(
        F.col(id_col).alias("doc_a"), F.col("pos").alias("pos_a"), "h"
    )
    b = fps.select(
        F.col(id_col).alias("doc_b"), F.col("pos").alias("pos_b"), "h"
    )
    return (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.countDistinct("h").alias("n_shared"),
            F.min("pos_a").alias("first_a"),
            F.min("pos_b").alias("first_b"),
        )
    )


def paragraph_chunks(text: Column, n_words: int = 8) -> Column:
    """Fixed-grid word chunks (stride = width = ``n_words``): the
    "paragraph" unit for CCNet-style paragraph-hash dedup when the
    corpus carries no layout newlines. Array of chunk strings in
    document order; the final chunk may be short."""
    toks = tokens(text)
    n_chunks = F.ceil(F.size(toks) / F.lit(n_words)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda j: F.concat_ws(
            " ", F.slice(toks, j * n_words + 1, n_words)
        ),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_words: int = 8,
) -> DataFrame:
    """CCNet-style paragraph-level dedup (Wenzek et al. 2019, §3.1 —
    public): hash every paragraph, keep only the globally FIRST
    occurrence (lowest ``(id, position)``), reassemble each document
    from its surviving paragraphs. Cross-document: a paragraph repeated
    in a later document is removed from it even though the later
    document is otherwise unique.

    Returns one row per input document:
    ``(id, n_chunks, n_kept, clean_md5)`` with ``clean_md5`` the md5 of
    the kept chunks joined by a single space (NULL when nothing
    survives) — pinning the reassembly order, not just the counts.

    Plan shape at 100 TB: posexplode → ONE md5-keyed window (the same
    uniform shuffle as exact dedup — first-writer-wins needs no join
    back) → one id-keyed aggregate. No collect, no all-pairs; skew is
    bounded because a pathologically frequent paragraph concentrates
    only its own occurrences (cap with a frequency guard upstream if a
    boilerplate paragraph dominates — same posture as
    ``substring_dup_runs``'s ``max_hash_docs``)."""
    from pyspark.sql.window import Window

    ch = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(paragraph_chunks(F.col(text_col), n_words)).alias(
            "pos", "chunk"
        ),
    ).withColumn("h", F.md5(F.col("chunk")))
    win = Window.partitionBy("h").orderBy("_id", "pos")
    ranked = ch.withColumn("rn", F.row_number().over(win))
    return (
        ranked.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1,
                                F.struct("pos", "chunk"),
                            )
                        )
                    ).getField("chunk"),
                )
            ).alias("clean_md5"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_chunks",
            F.col("n_kept").cast("long").alias("n_kept"),
            F.when(F.col("n_kept") > 0, F.col("clean_md5")).alias("clean_md5"),
        )
    )


def dup_span_removal(
    df: DataFrame,
    w: int = 40,
    stride: int = 10,
    max_hash_docs: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Complete the exact-substring dedup loop (Lee et al. 2022): not
    just FIND cross-document duplicated runs (``substring_dup_runs``)
    but REMOVE them — first occurrence wins (the lower doc id keeps its
    copy; the higher doc's span is excised), overlapping spans from
    different partner documents merged per doc before surgery.

    Returns ``(id, n_spans, n_removed_chars, clean_md5)`` — the merged
    span count, characters removed, and the md5 of the rebuilt text
    (compact, and pins every byte of the surgery).

    Plan shape on top of the run finder: one (doc, start) window pass
    merges intervals (the SCD-2 run-collapse trick), one aggregate
    packs them into a per-doc sorted array (bounded by span count, not
    text size), and the rebuild is a row-local fold stitching the
    inter-span gaps — no per-char explode, no driver text handling.
    """
    from pyspark.sql.window import Window

    runs = substring_dup_runs(
        df, w, stride, max_hash_docs, id_col, text_col
    )
    # DISTINCT before merging: the same (start, end) interval recurs
    # once per partner doc, and identical sort keys would let the
    # new-group flag window and the cumsum window order the ties
    # differently (group count became nondeterministic in BOTH engines
    # — caught by a full driver_sim run). After distinct, (s, e) is
    # unique per doc and the (s, e) ordering is total.
    iv = runs.select(
        F.col("doc_b").alias(id_col),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("match_len")).alias("e"),
    ).distinct()
    win = Window.partitionBy(id_col).orderBy("s", "e")
    prev_max = F.max("e").over(
        win.rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = F.sum(
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0)
    ).over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    merged = (
        iv.withColumn("_g", grp)
        .groupBy(id_col, "_g")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    arr = merged.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("_iv"),
        F.count(F.lit(1)).alias("_n_spans"),
    )
    joined = df.select(id_col, text_col).join(arr, id_col, "left")
    text = F.col(text_col)
    folded = F.aggregate(
        F.col("_iv"),
        F.struct(F.lit("").alias("t"), F.lit(1).alias("c")),
        lambda a, x: F.struct(
            F.concat(
                a["t"],
                F.substring(
                    text, a["c"], F.greatest(x["s"] - a["c"], F.lit(0))
                ),
            ).alias("t"),
            F.greatest(x["e"], a["c"]).alias("c"),
        ),
        lambda a: F.concat(a["t"], F.substring(text, a["c"], F.length(text))),
    )
    clean = F.when(F.col("_iv").isNull(), text).otherwise(folded)
    return joined.select(
        id_col,
        F.coalesce(F.col("_n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        (F.length(text) - F.length(clean)).cast("long").alias(
            "n_removed_chars"
        ),
        F.md5(clean).alias("clean_md5"),
    )


def edit_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int | None = None,
    **minhash_kwargs,
) -> DataFrame:
    """Near-duplicate pairs verified by TRUE edit distance (the
    RETSim-style second stage): MinHash-LSH candidates re-joined to
    their raw texts and scored with Levenshtein — absolute ``edit_dist``
    plus ``norm_dist`` (distance / longer length). ``max_dist`` filters
    survivors; ``None`` keeps every candidate with its distance.

    Scale shape: Levenshtein is O(len_a x len_b) PER PAIR, so it must
    never see all-pairs input — the band join (plus its ``max_band_docs``
    guard) bounds the candidate count, and the verification itself is an
    embarrassingly parallel projection over the joined pairs. The raw
    texts enter the plan only for surviving candidates (two keyed joins),
    never the band exchange. Candidates come from ``_minhash_candidates``
    directly, so the exact-Jaccard shingle re-joins (a different verifier
    this operator would discard) never enter the plan; Levenshtein is
    computed once in an intermediate projection and reused by
    ``norm_dist``.
    """
    cand, _ = _minhash_candidates(df, id_col, text_col, **minhash_kwargs)
    a = df.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta"))
    b = df.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb"))
    out = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("_ta"), F.col("_tb")).alias("edit_dist"),
            F.greatest(
                F.length(F.col("_ta")), F.length(F.col("_tb")), F.lit(1)
            ).alias("_maxlen"),
        )
        .select(
            "doc_a",
            "doc_b",
            "edit_dist",
            F.round(F.col("edit_dist") / F.col("_maxlen"), 4).alias(
                "norm_dist"
            ),
        )
    )
    if max_dist is not None:
        out = out.where(F.col("edit_dist") <= max_dist)
    return out


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_line_df: int = 3,
) -> DataFrame:
    """Frequency-based boilerplate LINE removal (the CCNet/jusText
    shape): a line occurring in more than ``max_line_df`` distinct
    documents (nav menus, cookie banners, signatures) is removed from
    EVERY document — unlike ``paragraph_dedup``'s first-occurrence-wins,
    boilerplate keeps no representative. Returns
    ``(id, n_lines, n_removed, clean_text)``.

    Scale shape: posexplode is a projection; the line-frequency table is
    one md5-keyed count (uniform hash key); the keep-join is an equi-join
    on that hash; reassembly is a per-DOCUMENT sort+fold (array bounded
    by the document's own line count — never a corpus-keyed array). Empty
    and all-whitespace lines are never counted as boilerplate (they'd
    tie most of the corpus into one hot key) and always survive."""
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    blank = F.trim(F.col("_line")) == ""
    keyed = lines.select(
        "_id", "_pos", "_line",
        F.when(~blank, F.md5(F.col("_line"))).alias("_h"),
    )
    # localCheckpoint: the frequency aggregate and the keep-join both
    # consume the exploded table — split/hash once
    keyed = keyed.localCheckpoint()
    hot = (
        keyed.where(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(F.countDistinct("_id").alias("_df"))
        .where(F.col("_df") > max_line_df)
        .select("_h")
    )
    kept_agg = (
        keyed.join(hot, "_h", "left_anti")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pos"), F.col("_line")))
            ).alias("_kept"),
        )
    )
    total = keyed.groupBy("_id").agg(F.count(F.lit(1)).alias("n_lines"))
    # left join: a document that was ENTIRELY boilerplate still gets a
    # row (empty clean_text), it must not vanish from the output
    joined = total.join(kept_agg, "_id", "left").select(
        "_id",
        "n_lines",
        F.coalesce(
            F.col("_kept"),
            F.array().cast("array<struct<_pos:int,_line:string>>"),
        ).alias("_kept"),
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.col("n_lines"),
        (F.col("n_lines") - F.size(F.col("_kept"))).alias("n_removed"),
        F.array_join(
            F.transform(F.col("_kept"), lambda s: s["_line"]), "\n"
        ).alias("clean_text"),
    )


# --------------------------------------------------------------------------
# Bloom-filter incremental dedup (membership against an ingested history)
# --------------------------------------------------------------------------

BLOOM_BITS = 4096
BLOOM_HASHES = 3


def _bloom_positions(fp: Column, n_bits: int, n_hashes: int) -> Column:
    """The ``n_hashes`` bit positions of a fingerprint: seeded-md5 first
    8 hex chars as an integer mod ``n_bits`` — the same portable hash
    family as ``text.token_bucket``, so any engine reproduces the exact
    bit pattern."""
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"bloom{j}|"), fp)), 1, 8),
                16,
                10,
            ).cast("bigint")
            % n_bits
            for j in range(n_hashes)
        ]
    )


def bloom_bits(
    df: DataFrame,
    text_col: str = "text",
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """ONE-row frame holding the history corpus's Bloom bitmap as a
    sorted array of SET bit positions (``bits``) plus ``n_set_bits``.

    Scale shape: the per-doc positions are a projection; the distinct
    pass partial-aggregates map-side down to at most ``n_bits`` keys
    (4096 here), so the shuffle carries O(n_bits) rows REGARDLESS of
    corpus size — this is why a Bloom bitmap is the standard incremental
    -ingest dedup structure at 100 TB: the history never re-scans, only
    its fixed-size bitmap ships (broadcast) to the new batch."""
    pos = df.select(
        F.explode(
            _bloom_positions(fingerprint(F.col(text_col)), n_bits, n_hashes)
        ).alias("bit")
    )
    return (
        pos.distinct()
        .agg(F.array_sort(F.collect_list("bit")).alias("bits"))
        .select("bits", F.size("bits").cast("long").alias("n_set_bits"))
    )


def bloom_probe(
    df: DataFrame,
    bits_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Probe every document of ``df`` against a ``bloom_bits`` bitmap:
    ``probably_seen`` is true iff ALL of the fingerprint's bit positions
    are set (the classic no-false-negative / some-false-positive
    contract). Zero-shuffle on the probe side: the one-row bitmap is
    broadcast and membership is an in-row ``array_contains`` fold."""
    probe = _bloom_positions(fingerprint(F.col(text_col)), n_bits, n_hashes)
    return df.crossJoin(F.broadcast(bits_df)).select(
        F.col(id_col),
        F.col("n_set_bits"),
        F.forall(
            probe, lambda p: F.array_contains(F.col("bits"), p)
        ).alias("probably_seen"),
    )


def containment_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **minhash_kwargs,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs verified by exact shingle CONTAINMENT
    (Broder 1997's second resemblance measure: |A∩B| / |A|): Jaccard
    misses a short document wholly embedded in a long one (the union
    dominates), which is exactly the quote/excerpt/template case —
    containment flags it from the small side. Returns both directions
    (``containment_a``, ``containment_b``) per surviving candidate.

    Scale shape: candidates come from the shared MinHash band join
    (``_minhash_candidates``), so the exact set intersection — O(|A|+|B|)
    per pair — runs per CANDIDATE only; the shingle arrays re-join to
    surviving pairs via two keyed equi-joins, never through the band
    exchange."""
    cand, shing = _minhash_candidates(df, id_col, text_col, **minhash_kwargs)
    a = shing.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("_sa")
    )
    b = shing.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("_sb")
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("_sa").alias("n_shingles_a"),
            F.size("_sb").alias("n_shingles_b"),
            inter.alias("_i"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shingles_a",
            "n_shingles_b",
            F.round(
                F.col("_i") / F.greatest(F.col("n_shingles_a"), F.lit(1)), 4
            ).alias("containment_a"),
            F.round(
                F.col("_i") / F.greatest(F.col("n_shingles_b"), F.lit(1)), 4
            ).alias("containment_b"),
        )
    )


def remove_repeated_lines(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """WITHIN-document repeated-line removal: each distinct line keeps
    only its FIRST occurrence inside its own document (log/transcript/
    scraped-page cleaning — the within-doc complement of
    ``remove_boilerplate_lines``' cross-document frequency rule). Blank
    and all-whitespace lines always survive (they are formatting, not
    content). Returns ``(id, n_lines, n_removed, clean_md5)``.

    Scale shape: the first-occurrence window partitions by
    (document, line-hash) — a PER-DOCUMENT key, so no corpus-global hot
    key can exist and every window partition is bounded by one
    document's own repetitions of one line; reassembly is the per-doc
    sort+fold (``collect_list`` bounded by the doc's line count, the
    ``remove_boilerplate_lines`` contract)."""
    from pyspark.sql.window import Window

    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    w = Window.partitionBy("_id", F.md5(F.col("_line"))).orderBy("_pos")
    flagged = lines.select(
        "_id",
        "_pos",
        "_line",
        (
            (F.trim(F.col("_line")) == "")
            | (F.row_number().over(w) == 1)
        ).alias("_keep"),
    )
    kept_struct = F.when(F.col("_keep"), F.struct("_pos", "_line"))
    return flagged.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum((~F.col("_keep")).cast("int")).cast("long").alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["_line"],
                ),
                "\n",
            )
        ).alias("clean_md5"),
    ).select(
        F.col("_id").alias(id_col), "n_lines", "n_removed", "clean_md5"
    )


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Benchmark DECONTAMINATION audit: flag corpus documents sharing
    any word n-gram with an evaluation set (the train-test overlap
    filter every serious pretraining run applies — Brown et al. 2020
    Appendix C use 13-grams; Gao et al. 2021 §6.3 the same family).
    Returns one row per CONTAMINATED document: its distinct-collision
    count, its distinct n-gram count, and the contamination ratio —
    the caller drops or quarantines (anti-join on the returned ids).

    Scale shape: an eval benchmark is small by definition, so its
    distinct n-gram set broadcasts; the corpus side explodes to
    (doc_id, gram) and inner-joins the broadcast WITHOUT shuffling the
    corpus — only COLLIDING grams (rare by construction) reach the
    doc-keyed count aggregate, and the per-doc gram totals come from
    the same projection before the join, so the corpus is scanned
    once."""
    grams = F.array_distinct(word_ngrams(F.col(text_col), n))
    bench_grams = (
        benchmark.select(F.explode(grams).alias("gram")).distinct()
    )
    docs = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.size(grams).alias("n_grams"),
        F.explode(grams).alias("gram"),
    )
    hits = docs.join(F.broadcast(bench_grams), "gram")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_collisions"),
            F.first("n_grams").alias("_n_grams"),
        )
        .select(
            "doc_id",
            "n_collisions",
            F.col("_n_grams").cast("long").alias("n_grams"),
            F.round(
                F.col("n_collisions")
                / F.greatest(F.col("_n_grams"), F.lit(1)),
                4,
            ).alias("contamination_ratio"),
        )
    )


def _shingle_band_tables(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    bands: int,
    rows: int,
    shingle_n: int,
) -> tuple[DataFrame, DataFrame]:
    """(shingle table, band table) of one corpus, both checkpointed so
    the shingle and signature hashing each run once, however many joins
    read them. Raises ``ValueError`` before any Spark job when the
    signature is shorter than ``bands * rows``."""
    _check_band_shape(k, bands, rows)
    shing = df.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), shingle_n).alias("shingles"),
    ).localCheckpoint()
    sig = shing.select(
        "doc_id", minhash_signature("shingles", k).alias("sig")
    )
    return shing, band_table(sig, k, bands, rows, "doc_id").localCheckpoint()


def build_minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    bands: int = 4,
    rows: int = 3,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The persistable history-side index of
    ``minhash_incremental_dedup``: (shingle table, banded table). A
    production pipeline writes both as parquet once per corpus build
    and every subsequent batch probes them — the same
    hash-once/probe-many amortization as the PQ codebooks
    (``ivfpq_search_only``) and the Bloom bitmap."""
    return _shingle_band_tables(
        df, id_col, text_col, k, bands, rows, shingle_n
    )


def minhash_incremental_dedup(
    new: DataFrame,
    history: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    bands: int = 4,
    rows: int = 3,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_band_docs: int | None = None,
    history_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup filter: screen a NEW batch of documents
    against an EXISTING corpus without ever self-joining the corpus —
    the MinHash sibling of ``bloom_history_dedup`` (which answers the
    same question for EXACT duplicates). This is the shape a continuous
    crawl pipeline runs every day: history is petabytes and already
    deduplicated; only the new batch needs verdicts.

    One row per NEW document: ``is_dup`` (any history doc with exact
    shingle-Jaccard ≥ threshold among LSH candidates), ``n_matches``,
    ``best_match`` (history id with the highest Jaccard, smallest id on
    ties — deterministic), ``best_jaccard``.

    Scale shape: the band join is new×history — NEVER history×history
    (a daily batch is ~1/1000th of the corpus, so candidate volume
    scales with the batch, not the archive), and in a production run
    the history side's signature/band table is the PRECOMPUTED index a
    previous run persisted (here it's derived in-query so the row stays
    self-contained — the bench probe isolates the probe side exactly
    like ``ivfpq_search_only`` does for PQ training). The join shuffles
    only (band_key, doc_id); shingle arrays re-join per CANDIDATE for
    exact-Jaccard verification; the final aggregate is keyed by new-doc
    id. ``max_band_docs`` drops boilerplate mega-bands on the history
    side before the join (``drop_hot_keys``, as in
    ``minhash_candidate_pairs``). ``history_index`` takes a prebuilt
    (shingle table, banded table) pair — ``build_minhash_index`` — so a
    recurring pipeline pays history hashing once, not per batch; the
    ``history`` frame is ignored when it's given."""
    n_sh, n_band = _shingle_band_tables(
        new, id_col, text_col, k, bands, rows, shingle_n
    )
    if history_index is not None:
        h_sh, h_band = history_index
    else:
        h_sh, h_band = _shingle_band_tables(
            history, id_col, text_col, k, bands, rows, shingle_n
        )
    h_band = drop_hot_keys(h_band, ["band_key"], max_band_docs)
    cand = (
        n_band.select(F.col("doc_id").alias("new_id"), "band_key")
        .join(
            h_band.select(F.col("doc_id").alias("hist_id"), "band_key"),
            "band_key",
        )
        .select("new_id", "hist_id")
        .distinct()
    )
    scored = (
        cand.join(
            n_sh.select(
                F.col("doc_id").alias("new_id"),
                F.col("shingles").alias("_sh_n"),
            ),
            "new_id",
        )
        .join(
            h_sh.select(
                F.col("doc_id").alias("hist_id"),
                F.col("shingles").alias("_sh_h"),
            ),
            "hist_id",
        )
        .select(
            "new_id",
            "hist_id",
            jaccard(F.col("_sh_n"), F.col("_sh_h")).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )
    agg = scored.groupBy("new_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.max("jaccard_sim").alias("best_jaccard"),
        # struct max: highest jaccard, then smallest hist_id (negated)
        F.max(
            F.struct(
                F.col("jaccard_sim").alias("_j"),
                (-F.col("hist_id")).alias("_nh"),
            )
        ).alias("_best"),
    )
    return (
        new.select(F.col(id_col).alias("doc_id"))
        .join(agg.withColumnRenamed("new_id", "doc_id"), "doc_id", "left_outer")
        .select(
            "doc_id",
            F.col("n_matches").isNotNull().alias("is_dup"),
            F.coalesce(F.col("n_matches"), F.lit(0).cast("long")).alias(
                "n_matches"
            ),
            (-F.col("_best._nh")).cast("long").alias("best_match"),
            "best_jaccard",
        )
    )
