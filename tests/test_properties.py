"""Property-based tests (hypothesis) for the dedup/text invariants that the
fixed-fixture oracle can't cover: fingerprint normalization invariance,
MinHash's Jaccard-estimation property, SimHash locality."""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf string hints resolve in module globals
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

WORD = st.text(alphabet="abcdefgh", min_size=1, max_size=6)
DOC = st.lists(WORD, min_size=4, max_size=30).map(" ".join)


@pytest.fixture(scope="module")
def sparkp(spark):
    return spark


@settings(max_examples=15, deadline=None)
@given(doc=DOC)
def test_fingerprint_whitespace_case_invariant(sparkp, doc):
    """fingerprint(x) is invariant under case changes and whitespace
    re-flowing — the normalization the exact-dedup path depends on."""
    from interop_spark.operators.text import fingerprint

    variants = [doc, doc.upper(), "  " + doc.replace(" ", "   ") + " "]
    df = sparkp.createDataFrame([(v,) for v in variants], "text string")
    fps = {r.fp for r in df.select(fingerprint(F.col("text")).alias("fp")).collect()}
    assert len(fps) == 1


@settings(max_examples=10, deadline=None)
@given(words=st.lists(WORD, min_size=8, max_size=20, unique=True))
def test_minhash_identical_docs_identical_signature(sparkp, words):
    from interop_spark.operators.dedup import minhash_signature, word_shingles

    doc = " ".join(words)
    df = sparkp.createDataFrame([(1, doc), (2, doc)], "id int, text string")
    sigs = df.select(
        minhash_signature(word_shingles(F.col("text"), 3), k=8).alias("sig")
    ).collect()
    assert sigs[0].sig == sigs[1].sig


@settings(max_examples=10, deadline=None)
@given(
    words=st.lists(WORD, min_size=12, max_size=24, unique=True),
    extra=WORD,
)
def test_simhash_locality(sparkp, words, extra):
    """Appending one word changes few SimHash bits; a disjoint doc changes
    many (locality property that makes banded Hamming joins work)."""
    from interop_spark.operators.dedup import simhash

    base = " ".join(words)
    near = base + " " + extra + "x"
    far = " ".join("zq" + w for w in words)
    df = sparkp.createDataFrame(
        [(1, base), (2, near), (3, far)], "id int, text string"
    )
    out = {r.id: r.sh for r in df.select("id", simhash(F.col("text")).alias("sh")).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(out[1], out[2]) <= ham(out[1], out[3])


@settings(max_examples=10, deadline=None)
@given(
    a=st.lists(st.floats(-1, 1, allow_nan=False), min_size=8, max_size=8),
)
def test_cosine_self_similarity(sparkp, a):
    from interop_spark.operators.similarity import as_double, cosine_sim

    if all(abs(x) < 1e-6 for x in a):
        return
    df = sparkp.createDataFrame([(a,)], "v array<double>")
    sim = df.select(
        cosine_sim(as_double(F.col("v")), as_double(F.col("v"))).alias("s")
    ).collect()[0].s
    assert sim == pytest.approx(1.0, abs=1e-9)


@settings(max_examples=8, deadline=None)
@given(
    pid=st.text(alphabet="abcdef0123456789-", min_size=1, max_size=20),
    bdate=st.dates().map(str),
    postal=st.text(alphabet="0123456789", min_size=3, max_size=8),
)
def test_writer_reader_roundtrip_property(sparkp, tmp_path_factory, pid, bdate, postal):
    """writer ∘ reader ≈ identity on mapped paths for arbitrary values
    (SURVEY.md §5.4)."""
    import json

    from interop_spark.fhir import Bundle, Mapping, MappingManager, read_from_directory

    src = sparkp.createDataFrame(
        [(pid, bdate, postal)], "PID string, BD string, PC string"
    )
    maps = [
        Mapping("PID", "Patient.id"),
        Mapping("BD", "Patient.birthDate"),
        Mapping("PC", "Patient.address.postalCode"),
    ]
    out = Bundle(MappingManager(maps, src.schema)).df_to_fhir_df(src).collect()
    d = tmp_path_factory.mktemp("rt")
    (d / "b.json").write_text(out[0].value)
    entry = read_from_directory(str(d), spark=sparkp).entry()
    row = entry.selectExpr("explode(Patient) AS p").select(
        "p.id", "p.birthDate", "p.address"
    ).collect()[0]
    assert row.id == pid
    assert row.birthDate == bdate
    assert row.address[0].postalCode == postal


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda p: p[0] < p[1]
        ),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
def test_dedup_clusters_match_union_find(sparkp, edges):
    """Cluster labels equal the min node of each connected component
    (checked against a Python union-find on the same edges)."""
    from interop_spark.operators.dedup import dedup_clusters

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    pairs = sparkp.createDataFrame(edges, "doc_a int, doc_b int")
    got = {r.doc_id: r.cluster for r in dedup_clusters(pairs).collect()}
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(doc=DOC)
def test_bpe_pieces_reconstruct_text(sparkp, doc):
    """Concatenated BPE-ish pieces reproduce the input up to whitespace
    (the pre-tokenizer must not drop or invent characters)."""
    from interop_spark.operators.text import bpe_ish_tokens

    df = sparkp.createDataFrame([(doc,)], "text string")
    pieces = df.select(
        F.concat_ws("", bpe_ish_tokens(F.col("text"))).alias("joined")
    ).collect()[0].joined
    strip = lambda s: "".join(s.split())
    assert strip(pieces) == strip(doc)


@settings(max_examples=8, deadline=None)
@given(
    tgt=st.lists(st.tuples(st.integers(0, 20), st.text("ab", max_size=3)),
                 min_size=1, max_size=8, unique_by=lambda t: t[0]),
    src=st.lists(st.tuples(st.integers(0, 20), st.text("cd", max_size=3)),
                 min_size=0, max_size=8, unique_by=lambda t: t[0]),
)
def test_merge_into_upsert_property(sparkp, tgt, src):
    """merge_into(update/insert) == dict-update semantics on unique keys."""
    from interop_spark.operators.merge import merge_into

    target = sparkp.createDataFrame(tgt, "k int, v string")
    source = sparkp.createDataFrame(src, "k int, v string") if src else \
        sparkp.createDataFrame([], "k int, v string")
    expected = dict(tgt)
    expected.update(dict(src))
    got = {r.k: r.v for r in merge_into(target, source, ["k"]).collect()}
    assert got == expected


@settings(max_examples=15, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda p: p[0] < p[1]
        ),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
def test_dedup_clusters_star_match_union_find(sparkp, edges):
    """large-star/small-star labels equal min-of-component (same oracle
    as the propagation variant, checked against Python union-find)."""
    from interop_spark.operators.dedup import dedup_clusters_star

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    pairs = sparkp.createDataFrame(edges, "doc_a int, doc_b int")
    got = {r.doc_id: r.cluster for r in dedup_clusters_star(pairs).collect()}
    assert got == expected


@settings(max_examples=12, deadline=None)
@given(
    vec=st.lists(
        st.floats(
            min_value=-10, max_value=10,
            allow_nan=False, allow_infinity=False, width=32,
        ),
        min_size=2,
        max_size=16,
    )
)
def test_sq8_reconstruction_error_bound(sparkp, vec):
    """Int8 scalar quantization: every reconstructed component is within
    scale/2 of the original (the quantizer's defining bound), and a
    constant vector reconstructs exactly (scale 0 path)."""
    from interop_spark.operators.similarity import (
        as_double, sq8_decode, sq8_encode,
    )

    df = sparkp.createDataFrame([(vec,)], "v array<float>")
    row = df.select(
        F.array_max(
            F.zip_with(
                as_double(F.col("v")),
                sq8_decode(sq8_encode(F.col("v"))),
                lambda a, b: F.abs(a - b),
            )
        ).alias("err"),
        ((F.array_max(as_double(F.col("v")))
          - F.array_min(as_double(F.col("v")))) / 255.0).alias("scale"),
    ).collect()[0]
    assert row.err <= row.scale / 2 + 1e-9


@settings(max_examples=10, deadline=None)
@given(
    toks=st.lists(
        st.integers(min_value=1, max_value=60),
        min_size=1,
        max_size=40,
    )
)
def test_sequence_pack_window_invariants(sparkp, toks):
    """Packing invariants for any token-count sequence: windows are
    non-negative and monotone per shard, first<=last, a doc spans
    ceil-consistent windows, and the total token mass equals the sum of
    the inputs (nothing dropped)."""
    import math

    rows = [(i, int(t)) for i, t in enumerate(toks)]
    df = sparkp.createDataFrame(rows, "doc_id long, n_tokens long")

    from pyspark.sql.window import Window

    C, G = 7, 3
    w = (
        Window.partitionBy("grp").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = df.select("doc_id", (F.col("doc_id") % G).alias("grp"), "n_tokens")
    cum = F.sum("n_tokens").over(w)
    out = t.select(
        "doc_id", "grp", "n_tokens",
        F.floor((cum - F.col("n_tokens")) / C).cast("bigint").alias("fw"),
        F.floor((cum - 1) / C).cast("bigint").alias("lw"),
    ).collect()

    # python replay per shard
    cums = {}
    for r in sorted(out, key=lambda r: r.doc_id):
        start = cums.get(r.grp, 0)
        end = start + r.n_tokens
        cums[r.grp] = end
        assert r.fw == start // C
        assert r.lw == (end - 1) // C
        assert 0 <= r.fw <= r.lw
        # a doc of n tokens can span at most ceil(n/C)+1 windows
        assert r.lw - r.fw <= math.ceil(r.n_tokens / C)


@settings(max_examples=10, deadline=None)
@given(doc=DOC)
def test_token_entropy_bounds(sparkp, doc):
    """0 <= entropy <= ln(n_tokens); all-identical tokens give exactly
    0; all-distinct tokens give exactly ln(n)."""
    import math

    from interop_spark.operators.text import token_entropy, tokens

    same = " ".join(["word"] * 7)
    distinct = " ".join(f"w{i}" for i in range(9))
    df = sparkp.createDataFrame(
        [(doc,), (same,), (distinct,)], "text string"
    )
    rows = df.select(
        F.size(tokens(F.col("text"))).alias("n"),
        token_entropy(F.col("text")).alias("h"),
    ).collect()
    for r in rows:
        assert -1e-9 <= r.h <= math.log(max(r.n, 1)) + 1e-9
    assert abs(rows[1].h) < 1e-12
    assert abs(rows[2].h - math.log(9)) < 1e-9


@settings(max_examples=10, deadline=None)
@given(
    data=st.data(),
    shared_len=st.integers(min_value=27, max_value=80),
    off_a=st.integers(min_value=0, max_value=40),
    off_b=st.integers(min_value=0, max_value=40),
)
def test_winnowing_guarantee_any_alignment(
    sparkp, data, shared_len, off_a, off_b
):
    """The winnowing theorem, fuzzed: any shared substring of length
    >= w + k - 1 (k=20, w=8 -> 27) yields at least one shared
    fingerprint hash, at ARBITRARY (unaligned) offsets."""
    import random

    from interop_spark.operators.dedup import winnow_dup_pairs

    seed = data.draw(st.integers(min_value=0, max_value=2**31))
    rng = random.Random(seed)

    def rand_text(n):
        return "".join(
            rng.choice("abcdefghijklmnop ") for _ in range(n)
        )

    shared = rand_text(shared_len)
    doc_a = rand_text(off_a) + shared + rand_text(10)
    doc_b = rand_text(off_b) + shared + rand_text(25)
    df = sparkp.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id long, text string"
    )
    pairs = winnow_dup_pairs(df, k=20, w=8, max_hash_docs=None).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 2)}


@settings(max_examples=10, deadline=None)
@given(
    data=st.data(),
    n_grid=st.integers(min_value=0, max_value=6),
)
def test_substring_runs_report_exact_grid_span(sparkp, data, n_grid):
    """substring_dup_runs run-merge arithmetic, fuzzed: a shared region
    planted at stride-congruent offsets merges into ONE run whose
    n_windows and match_len follow exactly from the grid geometry."""
    import random

    from interop_spark.operators.dedup import substring_dup_runs

    w, s = 40, 10
    seed = data.draw(st.integers(min_value=0, max_value=2**31))
    rng = random.Random(seed)

    def rand_text(n):
        return "".join(
            rng.choice("abcdefghijklmnop ") for _ in range(n)
        )

    # shared region spanning n_grid+1 grid windows exactly
    shared = rand_text(w + s * n_grid)
    off = s * data.draw(st.integers(min_value=0, max_value=5))
    doc_a = shared + rand_text(15)
    doc_b = rand_text(off) + shared + rand_text(15)
    df = sparkp.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id long, text string"
    )
    runs = substring_dup_runs(df, w=w, stride=s, max_hash_docs=None).collect()
    grid_runs = [r for r in runs if r.doc_a == 1 and r.doc_b == 2]
    assert len(grid_runs) >= 1
    # the maximal run covering the region start has the exact geometry
    main = [r for r in grid_runs if r.start_a == 1 and r.start_b == off + 1]
    assert len(main) == 1
    assert main[0].n_windows >= n_grid + 1
    assert main[0].match_len >= w + s * n_grid


@given(data=st.binary(min_size=0, max_size=200))
@settings(max_examples=200, deadline=None)
def test_parse_mp4_total_on_arbitrary_bytes(data):
    """The box walker must terminate and return None-or-tuple on ANY
    byte string (a media crawl is mostly garbage) — no exceptions, no
    infinite walks on adversarial size fields."""
    from interop_spark.operators.multimodal import parse_mp4

    out = parse_mp4(data)
    assert out is None or (len(out) == 4 and isinstance(out[1], int))


@given(
    prefix=st.binary(min_size=0, max_size=40),
    ts=st.integers(min_value=1, max_value=2**32 - 1),
    dur=st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=50, deadline=None)
def test_parse_mp4_rejects_headerless_payloads(prefix, ts, dur):
    """Without a leading ftyp box nothing parses, regardless of what
    mvhd-like bytes appear later."""
    import struct

    from interop_spark.operators.multimodal import parse_mp4

    body = struct.pack(">II", ts, dur)
    if prefix[4:8] != b"ftyp":
        assert parse_mp4(prefix + b"mvhd" + body) is None


@settings(max_examples=8, deadline=None)
@given(
    days=st.lists(st.integers(0, 120), min_size=1, max_size=12),
    window=st.integers(5, 45),
)
def test_era_merge_matches_python_reference(sparkp, days, window):
    """_era_merge (the shared OMOP *_era core) equals a pure-Python
    gap-and-island on arbitrary day sets: eras partition the
    occurrences, within-era gaps are <= window, consecutive eras are
    separated by > window, and counts sum to the occurrence count
    (duplicate days collapse into the same era but still count)."""
    import datetime as dt

    from interop_spark.fhir.analytics import _era_merge

    base = dt.date(2020, 1, 1)
    dates = sorted(base + dt.timedelta(days=d) for d in days)
    expected = []
    for d in dates:
        if expected and (d - expected[-1][-1]).days <= window:
            expected[-1].append(d)
        else:
            expected.append([d])
    want = {
        (i + 1): (e[0].isoformat(), e[-1].isoformat(), len(e))
        for i, e in enumerate(expected)
    }

    df = sparkp.createDataFrame(
        [("p", "C", d) for d in dates], "person_id string, c string, d date"
    )
    got = {
        r.era_seq: (r.x_era_start_date, r.x_era_end_date, r.n)
        for r in _era_merge(df, "c", "x", "n", window).collect()
    }
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    values=st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=1, max_size=300,
    ),
    n_parts=st.integers(min_value=2, max_value=4),
    salt=st.integers(min_value=0, max_value=10_000),
)
def test_rank_sketch_merge_partition_invariant(
    spark, values, n_parts, salt
):
    """PROPERTY: for ANY value multiset, key offset, and partition
    count, folding per-part rank sketches through rank_sketch_merge
    yields the IDENTICAL sketch frame as one pass — the exact
    mergeability contract (histograms add; threshold monotone under
    union; survivors a pure function of data set + threshold), at a
    capacity small enough that sampling is usually exercised."""
    from interop_spark.operators.sketch import (
        rank_sketch_build,
        rank_sketch_merge,
    )

    rows = [(salt + i, float(v)) for i, v in enumerate(values)]
    full = spark.createDataFrame(rows, "k long, score double")
    cap = 16
    one = rank_sketch_build(full, F.col("score"), F.col("k"), capacity=cap)
    merged = None
    for p in range(n_parts):
        part = full.where(F.col("k") % n_parts == p)
        if not part.take(1):
            continue
        sk = rank_sketch_build(
            part, F.col("score"), F.col("k"), capacity=cap
        )
        merged = (
            sk if merged is None
            else rank_sketch_merge(merged, sk, capacity=cap)
        )

    def ms(df):
        return sorted((r.kind, r.level, r.v, r.cnt) for r in df.collect())

    assert ms(merged) == ms(one)


@settings(max_examples=8, deadline=None)
@given(
    keys=st.lists(
        st.text(alphabet="abcdefghij", min_size=1, max_size=5),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    mask=st.integers(min_value=0, max_value=2**16 - 1),
)
def test_theta_merge_partition_invariant_property(sparkp, keys, mask):
    """Generalized KMV mergeability (the fixed-split test's hypothesis
    twin): for ANY key set and ANY 2-way split (driven by a random
    mask over key index), sketch-each-part + theta_merge equals the
    one-pass sketch frame EXACTLY."""
    from pyspark.sql.functions import col

    from interop_spark.operators.theta import (
        theta_items,
        theta_merge,
        theta_sketch,
    )

    k = 4
    df = sparkp.createDataFrame([("g", w) for w in keys], ["g", "k"])
    items = theta_items(df, col("g"), col("k"))
    one_kept, one_theta = theta_sketch(items, k=k)

    sel = [w for i, w in enumerate(sorted(keys)) if (mask >> (i % 16)) & 1]
    part_a = items.where(col("k").isin(*sel) if sel else F.lit(False))
    part_b = items.where(~col("k").isin(*sel) if sel else F.lit(True))
    ka, _ = theta_sketch(part_a, k=k)
    kb, _ = theta_sketch(part_b, k=k)
    m_kept, m_theta = theta_merge(ka, kb, k=k)

    assert sorted(map(tuple, m_kept.collect())) == sorted(
        map(tuple, one_kept.collect())
    )
    assert m_theta.collect()[0]["theta"] == one_theta.collect()[0]["theta"]


@settings(max_examples=8, deadline=None)
@given(
    vec=st.lists(
        st.floats(
            min_value=-100.0,
            max_value=100.0,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=16,
        max_size=16,
    )
)
def test_int4_error_bound_property(sparkp, vec):
    """For ANY 16-dim vector, blockwise int4 decode lands within half a
    quantization step of the input in every dimension, and codes stay
    in [0, 15] — the quantizer's contract independent of the embedding
    fixture's value range."""
    from pyspark.sql.functions import col

    from interop_spark.operators.quantize import (
        INT4_LEVELS,
        int4_decode,
        int4_encode,
    )

    df = sparkp.createDataFrame([(vec,)], "embedding array<double>")
    enc = int4_encode(col("embedding"), block=8)
    r = df.select(
        F.zip_with(
            col("embedding"), int4_decode(enc), lambda a, b: F.abs(a - b)
        ).alias("errs"),
        F.transform(enc, lambda b: b["scale"]).alias("scales"),
        F.flatten(F.transform(enc, lambda b: b["codes"])).alias("codes"),
    ).collect()[0]
    assert all(0 <= c <= INT4_LEVELS for c in r["codes"])
    # per-block bound: dims 0-7 against scale[0], 8-15 against scale[1]
    for i, e in enumerate(r["errs"]):
        assert e <= r["scales"][i // 8] / 2 + 1e-9, (i, e, r["scales"])


@settings(max_examples=8, deadline=None)
@given(
    counts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=999),  # user id
            st.integers(min_value=1, max_value=5),    # event multiplicity
        ),
        min_size=1,
        max_size=30,
    ),
    mask=st.integers(min_value=0, max_value=2**16 - 1),
)
def test_cms_fold_equals_batch_property(sparkp, counts, mask):
    """Count-Min mergeability (the contract behind `stream_cms_topk`):
    for ANY multiset of items and ANY 2-way split, building a sketch
    per part and folding by (j, b) counter SUM equals the one-pass
    sketch EXACTLY — counter addition is associative, so the streaming
    fold carries zero estimator drift."""
    from pyspark.sql.functions import col

    from interop_spark.queries.corpus_ext import HH_DEPTH, _cms_bucket

    rows = [
        (str(uid), i)
        for uid, mult in counts
        for i in range(mult)
    ]
    df = sparkp.createDataFrame(rows, ["w", "i"])

    def sketch(d):
        r = d.select(
            "w",
            F.explode(F.sequence(F.lit(0), F.lit(HH_DEPTH - 1))).alias("j"),
        )
        return (
            r.withColumn("b", _cms_bucket(col("j"), col("w")))
            .groupBy("j", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    one = {(r["j"], r["b"]): r["cnt"] for r in sketch(df).collect()}
    # shiftright() needs a literal shift in the Python API — build the
    # row-dependent shift in SQL instead
    bit = F.expr(
        f"pmod(shiftright({mask}, CAST(pmod(xxhash64(w, i), 16) AS INT)), 2)"
    )
    part_a = df.where(bit == 1)
    part_b = df.where(bit == 0)
    folded: dict = {}
    for part in (part_a, part_b):
        for r in sketch(part).collect():
            folded[(r["j"], r["b"])] = (
                folded.get((r["j"], r["b"]), 0) + r["cnt"]
            )
    assert folded == one


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(
                # precomposed, combining marks, ASCII, and a non-BMP char
                list("abcò́àé ") + ["\U0001f600"]
            ),
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_nfc_udf_matches_duckdb_property(sparkp, texts):
    """Cross-engine NFC parity (the contract behind
    `unicode_normalize_stats`): for ANY string over a combining-mark-
    heavy alphabet, the Arrow pandas-UDF normalization (Python
    unicodedata) and DuckDB's nfc_normalize produce the IDENTICAL
    normalized string — both implement Unicode NFC, and the driver
    oracle hash depends on it."""
    import duckdb
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: None if t is None else unicodedata.normalize("NFC", t)
        )

    df = sparkp.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: r["n"]
        for r in df.select("i", nfc(col("t")).alias("n")).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        want = con.execute("SELECT nfc_normalize(?)", [t]).fetchone()[0]
        assert got[i] == want, (t, got[i], want)
    con.close()


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "hot"]),
            st.integers(0, 10_000),
            st.integers(-1000, 1000),
        ),
        min_size=1,
        max_size=40,
    ),
    nparts=st.sampled_from([1, 3, 7]),
    salt=st.sampled_from([1, 2, 8]),
)
def test_salted_agg_equals_plain_property(sparkp, rows, nparts, salt):
    """salted_agg == plain groupBy for ANY partitioning and salt width
    (integer values so no float-order term exists): salting must be a
    pure execution-strategy change."""
    from interop_spark.operators.scale import salted_agg

    df = sparkp.createDataFrame(
        rows, "k string, i long, v long"
    ).repartition(nparts)
    got = {
        r.k: (r.n, r.s, r.lo, r.hi)
        for r in salted_agg(
            df,
            "k",
            {
                "n": (F.count("*"), "sum"),
                "s": (F.sum("v"), "sum"),
                "lo": (F.min("v"), "min"),
                "hi": (F.max("v"), "max"),
            },
            salt=salt,
            salt_on="i",
        ).collect()
    }
    want = {
        r.k: (r.n, r.s, r.lo, r.hi)
        for r in df.groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    days=st.lists(st.integers(1, 28), min_size=1, max_size=25),
    mask=st.lists(st.booleans(), min_size=1, max_size=25),
)
def test_daily_count_fold_equals_batch_property(sparkp, days, mask):
    """The stream_daily_anomaly fold contract: day-keyed count SUM over
    ANY 2-way batch split equals the one-pass daily count (count
    addition is exactly mergeable — zero estimator slack)."""
    mask = (mask * ((len(days) // len(mask)) + 1))[: len(days)]
    rows = [(f"2024-01-{d:02d}",) for d in days]
    a = [r for r, m in zip(rows, mask) if m]
    b = [r for r, m in zip(rows, mask) if not m]

    def daily(batch):
        if not batch:
            return None
        return (
            sparkp.createDataFrame(batch, "day string")
            .groupBy("day")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
    da, db = daily(a), daily(b)
    folded = (
        da.unionByName(db).groupBy("day")
        .agg(F.sum("n").cast("long").alias("n"))
        if da is not None and db is not None
        else (da if da is not None else db)
    )
    got = {r.day: r.n for r in folded.collect()}
    want = {r.day: r.n for r in daily(rows).collect()}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 5), st.integers(1, 20)),
        min_size=1,
        max_size=30,
    )
)
def test_rolling_window_equals_bruteforce_property(sparkp, pts):
    """The rolling_7d_users offset-densification (each (user, day)
    activity row contributes to its next 7 target days, then one
    day-keyed distinct count over observed days) equals the brute-force
    trailing-window set union for ANY activity pattern."""
    rows = sorted({(u, f"2024-01-{d:02d}") for u, d in pts})
    df = sparkp.createDataFrame(rows, "user_id long, day string").select(
        "user_id", F.to_date("day").alias("day")
    )
    days = df.select("day").distinct()
    contrib = df.select(
        "user_id",
        F.explode(
            F.expr("sequence(day, day + interval 6 days, interval 1 day)")
        ).alias("day"),
    )
    got = {
        str(r.day): r.n
        for r in contrib.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    want = {}
    obs_days = sorted({d for _, d in rows})
    for g in obs_days:
        gd = int(g[-2:])
        want[g] = len({u for u, d in rows if gd - 6 <= int(d[-2:]) <= gd})
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=1,
        max_size=15,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 99)),
        min_size=1,
        max_size=15,
    ),
)
def test_asof_join_matches_python_reference_property(sparkp, left, right):
    """asof_join == "latest right row with right_ts <= left_ts per key"
    for arbitrary data. Right (key, ts) pairs are deduped so the
    reference is unambiguous without a tie column."""
    from interop_spark.operators.temporal import asof_join

    rmap = {}
    for k, t, v in right:
        rmap[(k, t)] = v
    rrows = [(k, t, v) for (k, t), v in sorted(rmap.items())]
    lrows = [
        (k, t, i) for i, (k, t) in enumerate(left)
    ]  # unique lid per row

    ldf = sparkp.createDataFrame(lrows, "k int, ts long, lid long")
    rdf = sparkp.createDataFrame(rrows, "k int, ts long, v long")
    out = asof_join(ldf, rdf, "k", "ts", "ts", ["v"])
    got = {r.lid: r.asof_v for r in out.collect()}

    want = {}
    for k, t, lid in lrows:
        cands = [(rt, v) for (rk, rt), v in rmap.items()
                 if rk == k and rt <= t]
        want[lid] = max(cands)[1] if cands else None
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 500)),
        min_size=1,
        max_size=18,
        unique=True,
    ),
    delta=st.sampled_from([1, 7, 60]),
)
def test_range_pairs_within_matches_bruteforce_property(
    sparkp, rows, delta
):
    """range_pairs_within (coarse-bucket equi-join) == the O(n^2)
    brute-force |ts_a - ts_b| <= delta pair set, for any delta."""
    from interop_spark.operators.temporal import range_pairs_within

    data = [(k, i, t) for i, (k, t) in enumerate(rows)]
    df = sparkp.createDataFrame(data, "k int, id long, e long").select(
        "k", "id", F.timestamp_seconds(F.col("e")).alias("ts")
    )
    out = range_pairs_within(df, "k", "ts", "id", delta)
    got = {(r.k, r.id_a, r.id_b, r.gap_seconds) for r in out.collect()}

    want = set()
    for ka, ia, ta in data:
        for kb, ib, tb in data:
            if ka == kb and ia < ib and abs(ta - tb) <= delta:
                want.add((ka, ia, ib, abs(ta - tb)))
    assert got == want


# randomized (group, unique-key) frames: distinct int keys per draw so
# the order column is a total order within each group (the operator's
# stated contract)
_TOPK_ROWS = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 10_000)),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[1],
)


@settings(max_examples=15, deadline=None)
@given(rows=_TOPK_ROWS, k=st.integers(1, 7), salts=st.integers(1, 5))
def test_salted_grouped_topk_equals_single_window(sparkp, rows, k, salts):
    """operators/scale.salted_grouped_topk == the naive single-window
    top-k on arbitrary frames, ranks included — the exact-decomposition
    property (a group's k smallest keys are each the k smallest of
    their salt cell), for every (k, salts) combination drawn."""
    from interop_spark.operators.scale import salted_grouped_topk

    df = sparkp.createDataFrame(rows, ["g", "key"])
    got = {
        (r.g, r.key, r.rk)
        for r in salted_grouped_topk(
            df, ["g"], "key", k, F.pmod(F.col("key"), F.lit(salts)), salts
        ).collect()
    }
    want = set()
    by_g: dict = {}
    for g, key in rows:
        by_g.setdefault(g, []).append(key)
    for g, keys in by_g.items():
        for rk, key in enumerate(sorted(keys)[:k], 1):
            want.add((g, key, rk))
    assert got == want


# (group, unique-key, batch) draws for the streaming reservoir fold:
# unique keys keep the hash-order total (the operator's contract), the
# batch index splits rows into up to 4 micro-batches arbitrarily
_RES_ROWS = st.lists(
    st.tuples(
        st.integers(0, 3), st.integers(0, 10_000), st.integers(0, 3)
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[1],
)


@settings(max_examples=15, deadline=None)
@given(rows=_RES_ROWS, k=st.integers(1, 5))
def test_stream_reservoir_fold_split_independent(sparkp, rows, k):
    """The streaming reservoir's fold (`_strat_topk` per
    batch, then topk(state ∪ topk(batch))) equals the single-pass
    top-k for ANY batch split and ANY k — the merge-exactness claim
    `q_stream_stratified_reservoir` states for the fixed 4-chunk
    landing, proven here over arbitrary frames/splits/ks."""
    from tests import unregistered_queries as uq

    old_k = uq.STRAT_K
    uq.STRAT_K = k
    try:
        batches: dict = {}
        for g, key, b in rows:
            # zero-pad so string order == int order (the md5-hex analog)
            batches.setdefault(b, []).append((str(g), key, f"{key:05d}"))
        state = None
        for b in sorted(batches):
            df = sparkp.createDataFrame(
                batches[b], ["event_type", "event_id", "_h"]
            )
            part = uq._strat_topk(df)
            state = (
                part
                if state is None
                else uq._strat_topk(state.unionByName(part))
            )
        got = {
            (r.event_type, r.event_id, r.rk)
            for r in uq._strat_topk(
                state, with_rank=True
            ).collect()
        }
    finally:
        uq.STRAT_K = old_k
    by_g: dict = {}
    for g, key, _b in rows:
        by_g.setdefault(str(g), []).append(key)
    want = set()
    for g, keys in by_g.items():
        for rk, key in enumerate(sorted(keys)[:k], 1):
            want.add((g, key, rk))
    assert got == want


# (group, unique-id, value, weight) draws for the weighted quantile:
# ids unique so the (value, id) order is total; weights >= 1
_WQ_ROWS = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.integers(0, 10_000),
        st.integers(0, 50),
        st.integers(1, 9),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[1],
)


@settings(max_examples=15, deadline=None)
@given(rows=_WQ_ROWS, p=st.sampled_from([0.1, 0.5, 0.9]))
def test_weighted_quantile_core_matches_reference(sparkp, rows, p):
    """The weighted-percentile core (integer cumulative-weight window
    over the total (value, id) order; smallest value with
    cumw >= p*W) equals a pure-Python weighted quantile on arbitrary
    frames — the `weighted_percentile` row's arithmetic beyond the
    fixture."""
    from pyspark.sql.window import Window as W

    df = sparkp.createDataFrame(rows, ["g", "id", "v", "w"])
    w_cum = (
        W.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_all = W.partitionBy("g")
    out = (
        df.select(
            "g",
            "v",
            F.sum("w").over(w_cum).alias("cumw"),
            F.sum("w").over(w_all).alias("tot"),
        )
        .groupBy("g")
        .agg(
            F.min(
                F.when(F.col("cumw") >= F.lit(p) * F.col("tot"), F.col("v"))
            ).alias("q")
        )
    )
    got = {r.g: r.q for r in out.collect()}
    by_g: dict = {}
    for g, i, v, w in rows:
        by_g.setdefault(g, []).append((v, i, w))
    want = {}
    for g, items in by_g.items():
        items.sort()
        tot = sum(w for _, _, w in items)
        cum = 0
        for v, _, w in items:
            cum += w
            if cum >= p * tot:
                want[g] = v
                break
    assert got == want
