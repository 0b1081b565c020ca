"""Round-15b corpus-extension operators: theta/KMV sketch set algebra,
Count-Min heavy hitters, co-occurrence counts, int4 block quantization.
Driver rows live in `queries/corpus_ext.py`; these tests pin the
operator CONTRACTS the oracles can't see (estimator guarantees,
prefilter equivalence, quantizer error bounds)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from tests.conftest import SF_DIR


def test_theta_bottomk_equals_bruteforce(spark):
    """The histogram-prefiltered bottom-k equals the brute-force
    bottom-k (the prefilter keeps >= k survivors by construction), and
    theta is the k-th smallest hash exactly when the group saturates."""
    from interop_spark.operators.theta import (
        THETA_MAXH,
        theta_items,
        theta_sketch,
    )

    k = 8
    df = spark.range(200).select(
        (col("id") % 3).cast("string").alias("g"),
        F.concat(F.lit("key-"), col("id").cast("string")).alias("k"),
    )
    # group '2' gets only 5 members — below k, sketch must be exact
    df = df.where((col("g") != "2") | (col("id") < 15))
    items = theta_items(df, col("g"), col("k"))
    kept, theta = theta_sketch(items, k=k)

    brute = {
        (r["g"], r["k"])
        for r in items.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark").sql.window.Window.partitionBy(
                    "g"
                ).orderBy("h", "k")
            ),
        )
        .where(col("rn") <= k)
        .collect()
    }
    got = {(r["g"], r["k"]) for r in kept.collect()}
    assert got == brute

    th = {r["g"]: r["theta"] for r in theta.collect()}
    assert th["2"] == THETA_MAXH  # unsaturated -> exact mode
    kth = {
        r["g"]: r["h"]
        for r in kept.where(col("rn") == k).collect()
    }
    assert th["0"] == kth["0"] and th["1"] == kth["1"]


def test_theta_setops_exact_when_unsaturated(spark):
    """With k larger than every group, the sketch union/intersection
    ARE the exact set counts — the estimator's integer floor division
    degrades to identity at theta = 2^32."""
    from interop_spark.operators.theta import (
        theta_items,
        theta_pair_setops,
        theta_sketch,
    )

    rows = [("a", f"k{i}") for i in range(20)] + [
        ("b", f"k{i}") for i in range(10, 35)
    ]
    df = spark.createDataFrame(rows, ["g", "k"])
    items = theta_items(df, col("g"), col("k"))
    kept, theta = theta_sketch(items, k=64)
    pairs = spark.range(1).select(
        F.lit("a").alias("ga"), F.lit("b").alias("gb")
    )
    out = theta_pair_setops(kept, theta, pairs).collect()[0]
    assert out["union_est"] == 35  # |0..34|
    assert out["inter_est"] == 10  # |10..19|


def test_heavy_hitters_no_false_negatives(spark):
    """CMS only overestimates: every token whose exact count clears the
    phi threshold MUST appear in the candidate output, and every
    estimate dominates its exact count."""
    from interop_spark.queries.corpus_ext import (
        HH_PHI_DEN,
        q_heavy_hitter_tokens,
    )
    from interop_spark.io import load
    from interop_spark.operators.text import tokens as tx_tokens

    out = {r["token"]: r for r in q_heavy_hitter_tokens(spark, SF_DIR).collect()}
    toks = (
        load(spark, SF_DIR, "documents")
        .select(F.explode(tx_tokens(col("text"))).alias("w"))
        .where(col("w") != "")
    )
    n = toks.count()
    exact = {
        r["w"]: r["c"]
        for r in toks.groupBy("w").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    true_hh = {w for w, c in exact.items() if c * HH_PHI_DEN >= n}
    assert true_hh <= set(out), "CMS candidate set missed a true heavy hitter"
    for w, r in out.items():
        assert r["cms_est"] >= r["exact_cnt"], w
        assert r["is_true_hh"] == (w in true_hh)


def test_cooccurrence_counts_match_bruteforce(spark):
    """Pair counts on a hand-built corpus: presence co-occurrence over
    per-doc DISTINCT tokens, w1 < w2."""
    from interop_spark.operators.text import tokens as tx_tokens

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b c"), (3, "a a a"), (4, "c b a")],
        ["doc_id", "text"],
    )
    dt = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tx_tokens(col("text")))).alias("w"),
    )
    pairs = (
        dt.alias("x")
        .join(
            dt.alias("y"),
            (col("x.doc_id") == col("y.doc_id")) & (col("x.w") < col("y.w")),
        )
        .groupBy(col("x.w").alias("w1"), col("y.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {(r["w1"], r["w2"]): r["n"] for r in pairs.collect()}
    # docs: {a,b,c}, {b,c}, {a}, {a,b,c}
    assert got == {("a", "b"): 2, ("a", "c"): 2, ("b", "c"): 3}


def test_int4_roundtrip_error_bound(spark):
    """The int4 quantizer's reconstruction error is bounded by half a
    quantization step PER BLOCK (scale_b / 2), codes stay in [0, 15],
    and decode inverts encode's shape (flat 64-dim array)."""
    from interop_spark.io import load
    from interop_spark.operators.quantize import (
        INT4_LEVELS,
        int4_decode,
        int4_encode,
    )
    from interop_spark.operators.similarity import as_double

    e = load(spark, SF_DIR, "embeddings").limit(50)
    enc = int4_encode(col("embedding"), block=8)
    checked = e.select(
        F.size(int4_decode(enc)).alias("dim"),
        F.array_max(
            F.transform(
                enc, lambda b: F.array_max(b["codes"])
            )
        ).alias("max_code"),
        F.array_min(
            F.transform(
                enc, lambda b: F.array_min(b["codes"])
            )
        ).alias("min_code"),
        F.array_max(
            F.zip_with(
                as_double(col("embedding")),
                int4_decode(enc),
                lambda a, b: F.abs(a - b),
            )
        ).alias("err"),
        F.array_max(
            F.transform(enc, lambda b: b["scale"])
        ).alias("max_scale"),
    ).collect()
    for r in checked:
        assert r["dim"] == 64
        assert 0 <= r["min_code"] and r["max_code"] <= INT4_LEVELS
        # rounding puts every point within half a step of its code
        assert r["err"] <= r["max_scale"] / 2 + 1e-12


def test_theta_merge_equals_one_pass(spark):
    """The KMV merge CONTRACT: splitting the input arbitrarily (hash
    parity here), sketching each part, and merging yields the
    IDENTICAL (kept, theta) frames as the one-pass sketch — exact
    equality, not distributional (the k minima of a union are all
    among each part's k minima, and the kept set is a pure function of
    the key set)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from interop_spark.operators.theta import (
        theta_items,
        theta_merge,
        theta_sketch,
    )

    k = 8
    df = spark.range(300).select(
        (col("id") % 2).cast("string").alias("g"),
        F.concat(F.lit("m-"), col("id").cast("string")).alias("k"),
    )
    items = theta_items(df, col("g"), col("k"))
    one_kept, one_theta = theta_sketch(items, k=k)

    part_a = items.where(col("h") % 2 == 0)
    part_b = items.where(col("h") % 2 == 1)
    ka, _ = theta_sketch(part_a, k=k)
    kb, _ = theta_sketch(part_b, k=k)
    m_kept, m_theta = theta_merge(ka, kb, k=k)

    assert sorted(map(tuple, m_kept.collect())) == sorted(
        map(tuple, one_kept.collect())
    )
    assert sorted(map(tuple, m_theta.collect())) == sorted(
        map(tuple, one_theta.collect())
    )


def test_theta_streaming_fold_equals_batch(spark, sf_dir):
    """Streaming readiness of the theta sketch: folding per-micro-batch
    sketches with `theta_merge` across the real 4-chunk events stream
    (`fold_events`, the stream_theta_distinct fold) yields the
    IDENTICAL sketch as the one-pass batch build over all events —
    per (event_type) group, distinct user_id keys. O(groups * k) state
    between batches, never event rows."""
    from pyspark.sql.functions import col

    from interop_spark.io import load
    from interop_spark.operators.theta import (
        theta_items,
        theta_merge,
        theta_sketch,
    )
    from interop_spark.streaming.cdc import fold_events

    k = 16
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    one_kept, one_theta = theta_sketch(
        theta_items(ev, col("event_type"), col("user_id")), k=k
    )

    calls = []

    def _sketch(batch_df):
        calls.append(1)
        kb, _ = theta_sketch(
            theta_items(batch_df, col("event_type"), col("user_id")), k=k
        )
        return kb

    folded = fold_events(
        spark, sf_dir, _sketch, lambda st, kb: theta_merge(st, kb, k=k)[0]
    )
    assert len(calls) == 4, len(calls)

    m_kept, m_theta = theta_merge(folded, folded, k=k)
    assert sorted(map(tuple, m_kept.collect())) == sorted(
        map(tuple, one_kept.collect())
    )
    assert sorted(map(tuple, m_theta.collect())) == sorted(
        map(tuple, one_theta.collect())
    )


def test_theta_setops_estimate_quality(spark):
    """Sketch-quality regression pin (the ivf_recall_at_k pattern): on
    the sf fixture's source pairs, every union/intersection estimate
    must land within 50% relative error of its exact count — k=64 KMV
    has ~1/sqrt(62) ≈ 13% standard error, so a 50% miss means the
    estimator (not the noise) broke. Jaccard ppm columns must agree
    with their own ratio definition."""
    from interop_spark.queries.corpus_ext import q_theta_sketch_setops

    rows = q_theta_sketch_setops(spark, SF_DIR).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["union_exact"] > 0
        assert abs(r["union_est"] - r["union_exact"]) <= 0.5 * r["union_exact"], r
        assert (
            abs(r["inter_est"] - r["inter_exact"])
            <= 0.5 * max(r["inter_exact"], r["union_exact"] // 10)
        ), r
        assert r["jaccard_est_ppm"] == (r["inter_est"] * 1_000_000) // r["union_est"]
        assert (
            r["jaccard_exact_ppm"]
            == (r["inter_exact"] * 1_000_000) // r["union_exact"]
        )


def test_mmr_rerank_oracle_parity(spark):
    """The r16-registered row `mmr_rerank` satisfies the driver's
    full oracle contract: Spark result == DuckDB unrolled-greedy twin
    at sf0.01 (columns sorted, values canonicalized — the
    test_oracle_parity harness applied to the staged pair)."""
    from interop_spark.queries.corpus_ext import ORACLE, QUERIES
    from tests.test_oracle_parity import _canon, _duck

    sf = "/root/testdata/sf0.01"
    sdf = QUERIES["mmr_rerank"](spark, sf).toPandas()
    con = _duck(sf)
    ddf = con.execute(ORACLE["mmr_rerank"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)


def test_mmr_rerank_diversifies(spark):
    """MMR semantics: the seed is the most relevant candidate, ranks
    are 1..k over distinct ids, and on a shortlist with planted
    near-duplicates of the seed the picked set must NOT equal the
    plain relevance top-k (the duplicate is deferred by the diversity
    penalty)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from interop_spark.operators.mmr import mmr_rerank

    # the seed (id 0) is OBLIQUE to the query (rel 0.9) so its
    # near-duplicates (ids 1-2, sim-to-seed ~0.9999, rel ~0.9) pay the
    # full diversity penalty while the independent candidate id 3
    # (rel 0.85, sim-to-seed ~0.765) doesn't — at lambda=0.7 the
    # independent one must outrank at least one duplicate, which a
    # plain relevance top-3 ({0,1,2}) never does
    rows = [
        (0, [0.9, 0.43589, 0.0, 0.0]),
        (1, [0.9, 0.43589, 0.01, 0.0]),
        (2, [0.9, 0.43589, 0.0, 0.01]),
        (3, [0.85, 0.0, 0.52678, 0.0]),
    ]
    rows += [(i, [0.1, 0.3, 0.7, 0.5]) for i in range(4, 10)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    out = mmr_rerank(df, [1.0, 0.0, 0.0, 0.0], k=3, shortlist=6).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["id"] == 0 and out[0]["div_ppb"] == 0
    picked = {r["id"] for r in out}
    assert len(picked) == 3
    assert 3 in picked, out  # the diverse candidate beat a duplicate
    assert not {1, 2} <= picked, out  # both dupes never survive
    assert all(r["div_ppb"] >= 0 for r in out)


def test_stream_theta_distinct_oracle_parity(spark):
    """The r16-registered row `stream_theta_distinct` satisfies the
    driver's oracle contract: the streaming-fold result equals the
    DuckDB batch-sketch twin at sf0.01 (merge == one-pass, so the
    batch SQL IS the oracle)."""
    from interop_spark.queries.corpus_ext import ORACLE, QUERIES
    from tests.test_oracle_parity import _canon, _duck

    sf = "/root/testdata/sf0.01"
    sdf = QUERIES["stream_theta_distinct"](spark, sf).toPandas()
    con = _duck(sf)
    ddf = con.execute(ORACLE["stream_theta_distinct"]).df()
    con.close()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert _canon(sdf) == _canon(ddf)
    # the estimator audit: saturated groups estimate within 40% of
    # exact (k=64 KMV), unsaturated groups are exact by construction
    for r in sdf.to_dict("records"):
        if r["n_kept"] < 64:
            assert r["est_distinct"] == r["exact_distinct"]
        else:
            assert (
                abs(r["est_distinct"] - r["exact_distinct"])
                <= 0.4 * r["exact_distinct"]
            )


def test_int4_tail_block_encoded(spark):
    """ADVICE r15: a dimension `block` does NOT divide must still encode
    every element — the final short block is sliced-and-clamped, decode
    returns the FULL-length vector, and the per-block error bound holds
    on the tail too (previously the tail was silently dropped)."""
    from interop_spark.operators.quantize import int4_decode, int4_encode

    df = spark.createDataFrame(
        [([0.1 * i for i in range(10)],), ([5.0] * 10,)],
        "v array<double>",
    )
    enc = int4_encode(col("v"), block=8)
    out = df.select(
        F.size(enc).alias("nblocks"),
        F.size(F.element_at(enc, -1)["codes"]).alias("tail_len"),
        F.size(int4_decode(enc)).alias("dim"),
        F.array_max(
            F.zip_with(col("v"), int4_decode(enc), lambda a, b: F.abs(a - b))
        ).alias("err"),
        F.array_max(
            F.transform(enc, lambda b: b["scale"])
        ).alias("max_scale"),
    ).collect()
    for r in out:
        assert r["nblocks"] == 2 and r["tail_len"] == 2
        assert r["dim"] == 10
        assert r["err"] <= r["max_scale"] / 2 + 1e-12


def test_mmr_rerank_string_ids_and_null_embeddings(spark):
    """ADVICE r15: (a) string id columns work — the greedy tie-break no
    longer negates the id, and the output schema inherits the id type;
    (b) rows with NULL embeddings (or null elements) are dropped before
    the shortlist instead of entering it with a None relevance and
    crashing the driver greedy."""
    from interop_spark.operators.mmr import mmr_rerank

    rows = [
        ("a", [1.0, 0.0]),
        ("b", [1.0, 0.0]),  # exact tie with "a": id order decides
        ("c", [0.0, 1.0]),
        ("d", None),  # NULL embedding: must be excluded, not crash
    ]
    df = spark.createDataFrame(rows, "doc string, embedding array<double>")
    out = mmr_rerank(
        df, [1.0, 0.0], k=3, shortlist=4, id_col="doc", vec_col="embedding"
    ).collect()
    # seed: "a"/"b" tie exactly on score — the string-id tie-break picks
    # the SMALLER id ("a"); "d" (NULL) never appears
    assert [r["id"] for r in out] == ["a", "b", "c"]
    assert dict(df.dtypes)["doc"] == "string"
    assert all(r["rel_ppb"] is not None for r in out)


def test_theta_setops_result_sorts_without_exchange(spark):
    """The pair panel is one literal partition, so the final sort by
    (source_a, source_b) plans no range exchange (and runs as one job)."""
    from interop_spark.queries.corpus_ext import q_theta_sketch_setops

    df = q_theta_sketch_setops(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    rows = df.collect()
    keys = [(r["source_a"], r["source_b"]) for r in rows]
    assert len(rows) == 6 and keys == sorted(keys)


def test_theta_sketch_construction_fires_no_job(spark):
    """``theta_sketch`` builds lazy frames: constructing the sketch runs
    no Spark job (a caller that rereads ``kept`` checkpoints it)."""
    from interop_spark.operators.theta import theta_items, theta_sketch

    df = spark.range(100).select(
        (col("id") % 3).cast("string").alias("g"),
        col("id").cast("string").alias("k"),
    )
    items = theta_items(df, col("g"), col("k"))
    sc = spark.sparkContext
    group = "theta-sketch-construction"
    sc.setJobGroup(group, group)
    try:
        kept, theta = theta_sketch(items, k=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)
    assert kept.count() == 24 and theta.count() == 3


def test_theta_setops_releases_its_checkpoint(spark):
    """The query's items checkpoint only feeds its two construction-time
    collects; it is released before the query returns, so the session
    holds no more persisted RDDs than before."""
    from interop_spark.queries.corpus_ext import q_theta_sketch_setops

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    df = q_theta_sketch_setops(spark, SF_DIR)
    assert jsc.getPersistentRDDs().size() <= before
    assert df.count() > 0
