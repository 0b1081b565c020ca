"""Text analysis operators over a string column — all pure Column
expressions (no Python UDFs), designed so each has a DuckDB-expressible
twin for the driver's correctness gate.

Determinism contract: every function here uses only order-insensitive or
positionally-stable constructs (md5, regexp, HOFs over arrays built by
``split``), so Spark and DuckDB produce bit-identical results.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from interop_spark.operators.kernels import forget_zip_finders

# Small public stopword lists (frequency lists are public knowledge).
# Kept tiny on purpose: the language-ID heuristic scores stopword hits.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "ich"),
    "en": ("the", "a", "and", "is", "of", "to", "in", "it"),
    "es": ("el", "la", "de", "que", "y", "es", "un", "no"),
    "fr": ("le", "la", "et", "les", "des", "est", "un", "ne"),
    "zh": ("的", "了", "是", "我", "不", "在", "有", "他"),
}

PUNCT_RE = r"[.,;:!?'\"()\[\]{}]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (see ``bpe_ish_tokens`` for the
    subword-style variant)."""
    return F.split(F.trim(text), r"\s+")


# GPT-2-style pre-tokenizer approximation (public pattern shape):
# contraction suffixes, space-prefixed letter runs, digit runs, punctuation
# runs. Uses only constructs with identical semantics in Java regex
# (Spark) and default-mode RE2 (DuckDB) — both are leftmost-first on
# alternations, so the contraction branch wins before the punct class.
# Whitespace is the EXPLICIT class [ \t\n\f\r], not \s: Java's
# non-Unicode \s includes \x0B (vertical tab) while RE2's does not, and
# this constant is interpolated verbatim into the DuckDB oracle twin.
BPE_ISH_RE = r"'(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\f\r]+"


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish token pieces: the pre-tokenization split every BPE-family
    tokenizer applies before merges. Piece COUNT is the practical
    training-pipeline statistic (≈ token budget per document); actual
    merge tables are model-specific and out of scope."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_RE), 0)


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(bpe_ish_tokens(text))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# ---------------------------------------------------------------------------
# True BPE encode (Sennrich, Haddow, Birch, "Neural Machine Translation of
# Rare Words with Subword Units", ACL 2016 — the public merge-loop
# algorithm). ``bpe_ish_tokens`` above is the PRE-tokenizer approximation;
# this is the actual merge loop against a merge table. The default table is
# a small consistent toy vocab (every merge's parts are base characters or
# products of earlier merges), shipped as a literal so the DuckDB oracle
# twin can replay the identical merges.
# ---------------------------------------------------------------------------

DEFAULT_BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("o", "r"), ("e", "n"), ("a", "t"),
    ("e", "s"), ("an", "d"), ("in", "g"), ("o", "u"), ("i", "t"),
    ("a", "r"), ("t", "e"), ("s", "t"), ("l", "e"), ("o", "f"),
    ("a", "l"), ("al", "l"), ("c", "on"), ("d", "e"),
]


def _bpe_merge(pieces: list[str], ranks: dict) -> list[str]:
    """The greedy BPE merge loop over ``pieces`` (modified in place):
    repeatedly fuse the LEFTMOST occurrence of the lowest-rank adjacent
    pair in ``ranks`` (``(left, right) -> rank``) until none applies."""
    while len(pieces) > 1:
        best, bi = None, -1
        for i in range(len(pieces) - 1):
            r = ranks.get((pieces[i], pieces[i + 1]))
            if r is not None and (best is None or r < best):
                best, bi = r, i
        if best is None:
            break
        pieces[bi : bi + 2] = [pieces[bi] + pieces[bi + 1]]
    return pieces


def bpe_word_pieces(
    word: str, merges: list[tuple[str, str]] | None = None
) -> list[str]:
    """Encode ONE word with the greedy BPE merge loop: repeatedly find
    the lowest-rank merge whose pair is adjacent in the current piece
    sequence and fuse its LEFTMOST occurrence, until no merge applies.
    (Fusing one occurrence per step is equivalent to the paper's
    fuse-all-occurrences step for a consistent merge table — a fused
    symbol can only participate in LATER-rank merges, so the minimum
    stays on the same pair while occurrences remain; pinned against a
    fuse-all reference in test_bpe_encode.py.) No end-of-word marker —
    the toy table carries none."""
    table = merges if merges is not None else DEFAULT_BPE_MERGES
    return _bpe_merge(list(word), {pair: i for i, pair in enumerate(table)})


def bpe_pieces_udf(merges: list[tuple[str, str]] | None = None):
    """Arrow-batched scalar pandas UDF: word → space-joined BPE pieces.

    Scale shape: this is meant to run over the DISTINCT-word dictionary,
    not the token stream — encode each vocabulary entry once, then
    equi-join the (word → pieces) dictionary back onto the exploded
    tokens. At corpus scale the dictionary is orders of magnitude
    smaller than the token stream, so the only Python in the pipeline
    touches the small side."""
    table = list(merges if merges is not None else DEFAULT_BPE_MERGES)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _enc(words):  # pd.Series -> pd.Series
        forget_zip_finders()
        ranks = {pair: i for i, pair in enumerate(table)}
        return words.map(
            lambda w: None if w is None else " ".join(_bpe_merge(list(w), ranks))
        )

    return _enc


def stopword_count_of_tokens(toks: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda w: F.array_contains(arr, w)))


def stopword_count(text: Column, lang: str) -> Column:
    return stopword_count_of_tokens(tokens(text), lang)


def lang_scores_of_tokens(toks: Column) -> Column:
    """Per-language stopword hit counts as ONE array column, computed in a
    single pass over the tokens: each token updates all |langs| counters
    via zip_with against the literal stopword-list array. (The per-language
    ``stopword_count`` form re-traverses the token array once per language
    per consumer — ~20 passes/row when both `greatest` and the argmax CASE
    chain evaluate it.) Index i corresponds to sorted(STOPWORDS)[i].

    Bloom-bitmask fast path (the STATUS r6 idea, landed r8 after
    measuring −23% on the sf0.1 headline with identical outputs): most
    tokens are stopwords in NO language, so the fold first checks one
    crc32-derived bit against a 64-slot membership table precomputed
    from every language's stopwords at plan-build time (zlib.crc32 in
    Python and Spark's ``crc32`` share the polynomial, so the table and
    the runtime hash agree by construction). Misses skip the |langs| ×
    |words| membership scan AND the per-token counter-array rebuild;
    false positives just fall through to the exact scan, so outputs are
    unchanged by design."""
    import zlib

    langs = sorted(STOPWORDS)
    hitbits = [0] * 64
    for lang in langs:
        for w in STOPWORDS[lang]:
            hitbits[zlib.crc32(w.encode()) % 64] = 1
    mask_arr = F.array(*[F.lit(b) for b in hitbits])
    wordsets = F.array(
        *[F.array(*[F.lit(w) for w in STOPWORDS[lang]]) for lang in langs]
    )

    def step(acc, w):
        slot = (F.pmod(F.crc32(w.cast("binary")), F.lit(64)) + 1).cast("int")
        upd = F.zip_with(
            acc,
            wordsets,
            lambda c, ws: c
            + F.when(F.array_position(ws, w) > 0, F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        return F.when(F.element_at(mask_arr, slot) == 1, upd).otherwise(acc)

    return F.aggregate(toks, F.array_repeat(F.lit(0), len(langs)), step)


def lang_pred_of_scores(scores: Column) -> Column:
    """argmax over a MATERIALIZED ``lang_scores_of_tokens`` column, ties
    broken by language code order. Pass a named column, not the scores
    expression inline — this references it |langs|+1 times."""
    langs = sorted(STOPWORDS)
    best = F.array_max(scores)
    pred = F.lit(None).cast("string")
    for i, lang in reversed(list(enumerate(langs))):
        pred = F.when(
            F.element_at(scores, i + 1) == best, F.lit(lang)
        ).otherwise(pred)
    # reversed + overwrite → first lang in sorted order wins ties
    return pred


def lang_id_of_tokens(toks: Column) -> Column:
    """argmax of per-language stopword hits over a pre-tokenized column,
    ties broken by language code order (deterministic). Hot paths should
    materialize ``lang_scores_of_tokens`` into a column and apply
    ``lang_pred_of_scores`` so the score fold runs once."""
    return lang_pred_of_scores(lang_scores_of_tokens(toks))


def lang_id(text: Column) -> Column:
    """n-gram/stopword heuristic language-ID. Prefer tokenizing once into a
    column and calling ``lang_id_of_tokens`` when scoring at scale — the
    single-expression form re-tokenizes per language score."""
    return lang_id_of_tokens(tokens(text))


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(text) - F.length(F.regexp_replace(text, PUNCT_RE, ""))
    return F.round(n_punct / F.greatest(F.length(text), F.lit(1)), 4)


def avg_token_len(text: Column) -> Column:
    t = tokens(text)
    total = F.aggregate(
        F.transform(t, lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.round(total / F.greatest(F.size(t), F.lit(1)), 4)


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    return F.round(
        stopword_count(text, lang) / F.greatest(token_count(text), F.lit(1)), 4
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence −
    punctuation excess. Deliberately simple and portable; the value is the
    pipeline shape (scoring → filter at scale), not the heuristic."""
    len_ok = F.when(
        (F.length(text) >= 100) & (F.length(text) <= 20000), F.lit(0.5)
    ).otherwise(F.lit(0.0))
    stop_part = F.least(
        F.round(stopword_ratio(text, "en") * 2, 4), F.lit(0.3)
    )
    punct_penalty = F.least(punct_ratio(text), F.lit(0.2))
    return F.round(len_ok + stop_part - punct_penalty + F.lit(0.2), 4)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (the exact-dedup key; a rolling/content-defined variant can slot in
    behind the same column contract)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


# ---------------------------------------------------------------------------
# Gopher-style document quality signals (Rae et al., "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", 2021, §A1.1
# — the public rule set most production text-curation pipelines start
# from). All pure Column expressions: one filter pass over 100 TB of text
# stays entirely JVM-side.
# ---------------------------------------------------------------------------

ELLIPSIS_RE = r"(\.\.\.|…)$"
BULLET_RE = r"^\s*([-*•])"


def symbol_word_ratio(text: Column) -> Column:
    """(# of '#' and ellipsis occurrences) / words — Gopher drops docs
    above 0.1."""
    hashes = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    ell = F.size(F.regexp_extract_all(text, F.lit(r"(\.\.\.|…)"), 0))
    return F.round(
        (hashes + ell) / F.greatest(token_count(text), F.lit(1)), 4
    )


def alpha_word_ratio(text: Column) -> Column:
    """Fraction of words containing at least one alphabetic character —
    Gopher requires ≥ 0.8."""
    t = tokens(text)
    n_alpha = F.size(F.filter(t, lambda w: w.rlike("[A-Za-z]")))
    return F.round(n_alpha / F.greatest(F.size(t), F.lit(1)), 4)


def line_stats(text: Column) -> Column:
    """struct(bullet_ratio, ellipsis_ratio, dup_line_ratio) over the
    document's lines: fraction of lines starting with a bullet (Gopher
    caps 0.9), ending in an ellipsis (cap 0.3), and exact-duplicate lines
    (repetition signal). One split, three folds over the line array."""
    lines = F.split(text, r"\n")
    n = F.greatest(F.size(lines), F.lit(1))
    bullets = F.size(F.filter(lines, lambda l: l.rlike(BULLET_RE)))
    ellipses = F.size(F.filter(lines, lambda l: l.rlike(ELLIPSIS_RE)))
    dup = F.size(lines) - F.size(F.array_distinct(lines))
    return F.struct(
        F.round(bullets / n, 4).alias("bullet_ratio"),
        F.round(ellipses / n, 4).alias("ellipsis_ratio"),
        F.round(dup / n, 4).alias("dup_line_ratio"),
    )


def gopher_quality_flags(text: Column) -> Column:
    """struct of the Gopher §A1.1 keep/drop signals with their published
    thresholds. A curation pipeline filters on ``flags.keep`` (or
    inspects individual signals); computing all signals in one projection
    means ONE pass over the corpus."""
    n_words = token_count(text)
    mean_len = avg_token_len(text)
    sym = symbol_word_ratio(text)
    alpha = alpha_word_ratio(text)
    ls = line_stats(text)
    keep = (
        (n_words >= 50)
        & (n_words <= 100000)
        & (mean_len >= 3)
        & (mean_len <= 10)
        & (sym < 0.1)
        & (alpha >= 0.8)
        & (ls["bullet_ratio"] < 0.9)
        & (ls["ellipsis_ratio"] < 0.3)
        # repetition gate: Gopher drops documents whose duplicate-line
        # fraction exceeds 0.30; without this, `keep` is laxer than the
        # cited rule set even though the signal is computed
        & (ls["dup_line_ratio"] <= 0.30)
    )
    return F.struct(
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        sym.alias("symbol_word_ratio"),
        alpha.alias("alpha_word_ratio"),
        ls["bullet_ratio"].alias("bullet_ratio"),
        ls["ellipsis_ratio"].alias("ellipsis_ratio"),
        ls["dup_line_ratio"].alias("dup_line_ratio"),
        keep.alias("keep"),
    )


def word_ngrams(text: Column, n: int) -> Column:
    """Word n-grams joined with single spaces (WITH multiplicity — the
    repetition signals need counts, unlike the dedup shingles).

    The token array is bound once, as the lambda variable of a
    one-element ``transform``: referenced inside the n-gram lambda, an
    inline ``tokens(text)`` would split the document again for every
    n-gram (O(words²) per document)."""

    def _grams(t: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        )

    return F.element_at(F.transform(F.array(tokens(text)), _grams), 1)


def _run_fold(sorted_ngrams: Column) -> Column:
    """Fold a SORTED n-gram array into struct(top_chars, dup_chars):
    ``top_chars`` = count × char-length of the most frequent n-gram
    (ties: higher count first, then longer string — deterministic and
    replicated by the oracle's lexicographic struct max), ``dup_chars``
    = Σ count × char-length over n-grams occurring ≥ 2 times. Equal
    values are adjacent after the sort, so one pass over runs suffices —
    doc-local, zero shuffle, any corpus size."""

    def _close(a):
        # contributions of the run that just ended (prev × run)
        plen = F.length(a["prev"]).cast("bigint")
        is_top = (a["run"] > a["top_c"]) | (
            (a["run"] == a["top_c"]) & (plen > a["top_l"])
        )
        return (
            F.when(is_top, a["run"]).otherwise(a["top_c"]),
            F.when(is_top, plen).otherwise(a["top_l"]),
            a["dup"]
            + F.when(a["run"] >= 2, a["run"] * plen).otherwise(
                F.lit(0).cast("bigint")
            ),
        )

    def _step(a, x):
        same = x == a["prev"]
        tc, tl, dup = _close(a)
        return F.struct(
            x.alias("prev"),
            F.when(same, a["run"] + 1)
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("run"),
            F.when(same, a["top_c"]).otherwise(tc).alias("top_c"),
            F.when(same, a["top_l"]).otherwise(tl).alias("top_l"),
            F.when(same, a["dup"]).otherwise(dup).alias("dup"),
        )

    def _finish(a):
        tc, tl, dup = _close(a)  # close the final run
        return F.struct(
            (tc * tl).alias("top_chars"), dup.alias("dup_chars")
        )

    zero = F.lit(0).cast("bigint")
    return F.aggregate(
        sorted_ngrams,
        F.struct(
            F.lit("").alias("prev"),
            zero.alias("run"),
            zero.alias("top_c"),
            zero.alias("top_l"),
            zero.alias("dup"),
        ),
        _step,
        _finish,
    )


def token_entropy(text: Column) -> Column:
    """Unigram token entropy in nats — ``ln(N) − Σ c·ln(c) / N`` over
    the doc's token counts (0 for a one-token-type doc; higher = more
    lexically diverse). A cheap perplexity proxy used as a quality
    signal alongside the Gopher gates. Doc-local zero-shuffle shape:
    sort the token array, fold over equal runs accumulating c·ln(c).
    UNROUNDED — callers that hash results across engines should round
    and signed-zero-normalize (an all-equal doc's entropy is a
    floating ~0 that can land on either side of zero)."""
    t = tokens(text)
    n = F.greatest(F.size(t), F.lit(1)).cast("double")

    def _close(a):
        # guard run=0 (initial acc): Spark's log(0) is NULL and would
        # poison the whole fold through 0 * NULL
        return F.when(
            a["run"] > 0,
            a["s"]
            + a["run"].cast("double") * F.log(a["run"].cast("double")),
        ).otherwise(a["s"])

    def _step(a, x):
        same = x == a["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(same, a["run"] + 1)
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("run"),
            F.when(same, a["s"]).otherwise(_close(a)).alias("s"),
        )

    folded = F.aggregate(
        F.array_sort(t),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0.0).alias("s"),
        ),
        _step,
        _close,
    )
    return F.log(n) - folded / n


def repetition_signals(
    text: Column,
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
) -> Column:
    """The remaining Gopher §A1.1 repetition signals beyond the
    line-level gate: for n in ``top_ns`` the fraction of characters in
    the most frequent word n-gram (count × n-gram length / doc length),
    and for n in ``dup_ns`` the fraction of characters in word n-grams
    occurring more than once. Character counts use the space-joined
    n-gram string (occurrences counted with multiplicity, overlaps NOT
    deduplicated — the simple deterministic definition, stated here
    because published implementations vary on overlap handling).

    All fractions are UNROUNDED bigint÷bigint double divisions
    (bit-identical across engines). One projection pass; each n costs a
    per-row sort + fold of the n-gram array — O(T log T) per doc,
    doc-local, so the operator is scan-bound at any corpus size."""
    nchars = F.greatest(F.length(text), F.lit(1)).cast("bigint")
    fields = []
    for n in top_ns:
        r = _run_fold(F.array_sort(word_ngrams(text, n)))
        fields.append(
            (r["top_chars"].cast("double") / nchars.cast("double")).alias(
                f"top_{n}gram_char_frac"
            )
        )
    for n in dup_ns:
        r = _run_fold(F.array_sort(word_ngrams(text, n)))
        fields.append(
            (r["dup_chars"].cast("double") / nchars.cast("double")).alias(
                f"dup_{n}gram_char_frac"
            )
        )
    return F.struct(*fields)


def token_bucket(tok: Column, n_buckets: int) -> Column:
    """Feature-hash bucket of a token: first 8 hex chars of md5 as an
    integer, mod ``n_buckets`` — the hashing-trick feature map
    (Weinberger et al., ICML 2009), reproducible in any engine that can
    parse hex (the DuckDB twin casts '0x' || substr(md5, 1, 8))."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")
        % n_buckets
    )


def hashed_linear_logit(
    text: Column, weights: list[float], bias: float = 0.0
) -> Column:
    """Linear text-classifier inference in the fastText architecture
    (Joulin et al., "Bag of Tricks for Efficient Text Classification",
    2016 — public): mean of hashed-bucket token weights + bias. This is
    the score used by classifier-based corpus filtering; plug in any
    trained weight vector. Returns the round-6 LOGIT (monotone in the
    probability; apply a sigmoid downstream if calibrated outputs are
    needed — kept out of the engine's oracle-checked path because
    libm/JVM `exp` can differ in the last ULP across engines).

    Plan shape: weights embed as a literal bucket array (broadcast at
    real weight sizes) and the score is one fold per row — zero
    shuffle, scan-bandwidth bound."""
    n = len(weights)
    wlit = F.array(*[F.lit(float(w)) for w in weights])
    toks = tokens(text)
    s = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.element_at(wlit, (token_bucket(t, n) + 1).cast("int")),
    )
    mean = s / F.greatest(F.size(toks), F.lit(1))
    return F.round(mean + F.lit(float(bias)), 6)


def c4_line_filter(text: Column, min_words: int = 5) -> Column:
    """C4 cleaning heuristics (Raffel et al. 2020, §2.2 — public): keep
    only lines that end in terminal punctuation (``. ! ? "``) AND have
    at least ``min_words`` words; flag the whole document as dropped if
    it contains a curly brace (code), the phrase "lorem ipsum"
    (boilerplate), or retains fewer than 3 kept lines. Returns a struct
    ``(n_lines, n_kept, doc_ok, clean_text)`` so one projection carries
    both the per-line filter and the document verdict.

    Pure Column expressions over a single ``split``/``filter`` pass —
    zero shuffle, scan-bandwidth bound at 100 TB; no Python worker.
    (Reference parity: none — the reference has no corpus-cleaning
    surface; this is the training-data-pipeline mandate.)"""
    lines = F.split(text, "\n")

    def _keep(l):
        words = F.size(F.split(F.trim(l), " +"))
        terminal = l.rlike('[.!?"]$')
        return terminal & (words >= min_words)

    kept = F.filter(lines, _keep)
    low = F.lower(text)
    doc_ok = (
        ~low.contains("lorem ipsum")
        & ~low.contains("{")
        & (F.size(kept) >= 3)
    )
    return F.struct(
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        doc_ok.alias("doc_ok"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Encoding-quality signals (round-10): the ftfy-class gate real pipelines
# run before any text op — mojibake (UTF-8 bytes misdecoded as Latin-1),
# U+FFFD replacement chars, and C0 control chars are all cheap per-row
# regex counts, pure Column expressions (one JVM pass over 100 TB of
# text). Same Java/DuckDB regex semantics: character classes given as
# explicit \\uXXXX escapes.
# ---------------------------------------------------------------------------

# high-frequency mojibake digraphs: the UTF-8 byte pairs/triples of
# ’ “ ” – é read as Latin-1 (â€™, Ã©, ...) plus the generic
# Ã/Â + Latin-1-high-byte continuation pattern
_MOJIBAKE_RE = (
    "(\u00e2\u20ac[\u2122\u0153\u009d\u201c\u201d\u2013\u2014]"
    "|[\u00c3\u00c2][\u0080-\u00bf])"
)
# C0 controls minus \t\n\r, plus DEL
_CONTROL_RE = "[\u0000-\u0008\u000b\u000c\u000e-\u001f\u007f]"


def encoding_quality(text: Column) -> Column:
    """Per-document encoding-health struct: replacement-char count,
    control-char count, mojibake pattern hits, and the composite
    ``enc_ok`` gate (no hits of any kind)."""
    n_repl = F.regexp_count(text, F.lit("\ufffd"))
    n_ctrl = F.regexp_count(text, F.lit(_CONTROL_RE))
    n_moji = F.regexp_count(text, F.lit(_MOJIBAKE_RE))
    return F.struct(
        n_repl.alias("n_replacement"),
        n_ctrl.alias("n_control"),
        n_moji.alias("n_mojibake"),
        ((n_repl + n_ctrl + n_moji) == 0).alias("enc_ok"),
    )


# Unicode script profiling (round-10): the multilingual complement to the
# stopword lang-ID — char-class counts per major script plus a dominant-
# script verdict, pure Column regexes (one JVM pass; gates mixed-script
# corpora before any tokenizer that assumes one script).
_SCRIPT_RES = {
    "latin": "[A-Za-z\\u00c0-\\u024f]",
    "cjk": "[\\u4e00-\\u9fff\\u3040-\\u30ff]",
    "cyrillic": "[\\u0400-\\u04ff]",
    "arabic": "[\\u0600-\\u06ff]",
}


def script_profile(text: Column) -> Column:
    """Struct of per-script character counts (latin/cjk/cyrillic/arabic)
    and ``dominant`` — the max-count script, ties broken by the fixed
    declaration order so both engines pick identically."""
    counts = {
        name: F.regexp_count(text, F.lit(pat))
        for name, pat in _SCRIPT_RES.items()
    }
    mx = F.greatest(*counts.values())
    dom = F.lit(None).cast("string")
    for name in reversed(list(counts)):  # first declared wins ties
        dom = F.when(counts[name] == mx, F.lit(name)).otherwise(dom)
    dom = F.when(mx > 0, dom)  # no script chars -> NULL
    return F.struct(
        *[c.alias(f"n_{n}") for n, c in counts.items()],
        dom.alias("dominant"),
    )


def bpe_train_merges_list(wf, rounds: int = 4) -> list[tuple]:
    """Training core of :func:`bpe_train_merges`, returning the learned
    merges as the Python list ``[(round, a, b, merged, pair_count)]``.

    Runs ENTIRELY driver-side over the collected word-frequency table
    (r20 optimization round — the theta/rank-sketch bounded-state
    precedent): ``wf`` is VOCABULARY-bounded by the operator's contract,
    so one collect replaces the per-round argmax job + window-rebuild
    checkpoint job (~2 jobs x rounds of pure scheduling overhead; the
    corpus itself is only ever touched by the caller's word-frequency
    aggregate, unchanged). The Python loop mirrors the windowed frame
    implementation term for term — `_bpe_train_merges_frames` below is
    kept as the REFERENCE TWIN and
    ``test_bpe_train_merges_list_equals_frames`` pins list equality on
    the real fixture:

    - symbols: ``list(w)`` replicates ``F.split(w, '')`` (no trailing
      empty element; the empty word maps to ``['']`` — callers filter
      empty words anyway);
    - pair counts: SUM of word frequency over adjacent symbol pairs —
      exact integers on both sides;
    - argmax: highest pair_count, ties to lexicographically smallest
      (a, b) — Python tuple order on str equals Spark's UTF8 binary
      order code-point for code-point;
    - greedy apply: one left-to-right scan per word (merge, then
      continue AFTER the consumed symbol) — the identical keep set to
      the frame version's run-parity windows (consecutive matches form
      a run; the scan keeps exactly the odd-indexed matches of each
      run)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")

    rows = wf.select("w", "c").collect()
    words: list[tuple[list[str], int]] = [
        (list(r[0]) if r[0] else [""], int(r[1])) for r in rows
    ]
    merges: list[tuple] = []
    for r in range(1, rounds + 1):
        counts: dict = {}
        for sym, c in words:
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:  # vocabulary exhausted: no pairs remain
            break
        (a_v, b_v), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, a_v, b_v, a_v + b_v, int(cnt)))
        if r == rounds:  # the rebuilt symbol table has no consumer
            break
        new_words = []
        for sym, c in words:
            out: list[str] = []
            i, n = 0, len(sym)
            while i < n:
                if i + 1 < n and sym[i] == a_v and sym[i + 1] == b_v:
                    out.append(a_v + b_v)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_words.append((out, c))
        words = new_words
    return merges


def _bpe_train_merges_frames(wf, rounds: int = 4) -> list[tuple]:
    """REFERENCE TWIN of :func:`bpe_train_merges_list` — the r19
    windowed frame implementation (one exchange+sort per round via the
    shared (w, pos) window family, per-round argmax as a TakeOrdered
    collect). Kept for the equivalence pin; hot paths use the
    driver-side loop."""
    from pyspark.sql import Window

    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")

    seq = wf.select(
        "w", "c", F.posexplode(F.split("w", "")).alias("pos", "sym")
    )
    wseq = Window.partitionBy("w").orderBy("pos")
    wcum = wseq.rowsBetween(Window.unboundedPreceding, 0)
    merges: list[tuple] = []
    for r in range(1, rounds + 1):
        paired = seq.withColumn("nxt", F.lead("sym", 1).over(wseq))
        counts = (
            paired.where(F.col("nxt").isNotNull())
            .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
            .agg(F.sum("c").alias("pair_count"))
        )
        # the argmax pair is ONE row — fetch it to the driver (the
        # PQ-codebook bounded-model pattern) and splice it in as
        # literals. (Pre-r19 this was localCheckpoint + take + a
        # crossJoin(broadcast) — three jobs per round where one
        # TakeOrdered collect suffices; same argmax, same tie order.)
        best_row = (
            counts.orderBy(F.col("pair_count").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best_row:  # vocabulary exhausted: no pairs remain
            break
        a_v, b_v = best_row[0]["a"], best_row[0]["b"]
        merges.append((r, a_v, b_v, a_v + b_v, int(best_row[0]["pair_count"])))
        if r == rounds:  # the rebuilt symbol table has no consumer
            break
        m = paired.withColumn(
            "is_match",
            (F.col("sym") == F.lit(a_v)) & (F.col("nxt") == F.lit(b_v)),
        )
        # Greedy left-to-right keep via run parity, ALL on the one
        # (w, pos) window: cnt = running match count, a run starts
        # where a match follows a non-match, c0 = cnt at the current
        # run's start (last_value ignoreNulls), and a match is kept iff
        # its within-run index cnt − c0 + 1 is odd. Identical keep set
        # to the pre-r19 (w, pos − cnt, is_match)-partitioned
        # row_number — consecutive matches share pos − cnt exactly when
        # they are one run — but every window here shares the SAME
        # (w, pos) partitioning, so each round pays ONE exchange + sort
        # instead of two (r19 optimization round).
        g = m.withColumn(
            "cnt", F.sum(F.col("is_match").cast("int")).over(wcum)
        )
        s = g.withColumn(
            "s",
            F.col("is_match")
            & ~F.coalesce(F.lag("is_match", 1).over(wseq), F.lit(False)),
        )
        i = s.withColumn(
            "c0",
            F.last(F.when(F.col("s"), F.col("cnt")), ignorenulls=True).over(
                wcum
            ),
        )
        k = i.withColumn(
            "keep",
            F.col("is_match") & ((F.col("cnt") - F.col("c0")) % 2 == 0),
        )
        d = k.withColumn(
            "consumed", F.lag("keep", 1, False).over(wseq)
        )
        seq = (
            d.where(~F.col("consumed"))
            .select(
                "w",
                "c",
                (F.row_number().over(wseq) - 1).alias("pos"),
                F.when(
                    F.col("keep"), F.concat("sym", "nxt")
                ).otherwise(F.col("sym")).alias("sym"),
            )
            .localCheckpoint()
        )
    return merges


def bpe_train_merges(wf, rounds: int = 4):
    """Iterated BPE vocabulary TRAINING (Sennrich et al. 2016 §3.2) —
    the full merge LOOP on top of ``bpe_merge_candidates``'s one-round
    pair count: each round counts adjacent symbol pairs over the
    word-frequency table (weighted by frequency), picks the argmax pair
    (ties → lexicographically smallest (a, b), a fixed total order both
    engines share), applies it GREEDILY left-to-right, and re-numbers.
    Returns the trained merge list: (merge_round, a, b, merged, pair_count).

    Greedy application without any fold/UDF — pure window functions, so
    the DuckDB oracle can replicate it CTE-for-CTE: a match flag per
    position, runs of consecutive matches collapse via the
    gap-and-island key (pos − running match count; overlapping matches
    only arise when a == b), odd offsets within a run are kept (the
    left-to-right rule), a kept match rewrites its symbol to ``a||b``
    and CONSUMES the following row (lag of the keep flag), and
    row_number re-densifies positions for the next round.

    Scale shape: the corpus is touched ONCE (the word-frequency
    aggregate any tokenizer trainer pays); every round operates on the
    VOCABULARY-sized symbol table — windows keyed per word, pair counts
    keyed by the bounded pair space, and the argmax is a 1-row
    TakeOrdered. Rounds are localCheckpoint-ed so plan depth stays O(1)
    (the kmeans_fit discipline).

    ``wf``: DataFrame (w string, c long). The caller derives it from the
    corpus; cost scales with vocabulary, not corpus, thereafter."""
    sp = wf.sparkSession
    merges = bpe_train_merges_list(wf, rounds)
    # merge list (possibly empty — e.g. a corpus of only single-
    # character words, where the oracle's CTE chain also yields zero
    # rows; ADVICE r13) as a JVM-side literal explode — the repo's
    # "pair panel" pattern: a Python-backed createDataFrame would
    # parallelize through a Python worker round-trip on every
    # downstream reference (~0.3 s/job measured), a literal array
    # costs none.
    if not merges:
        return sp.createDataFrame(
            [],
            "merge_round int, a string, b string, merged string,"
            " pair_count long",
        )
    rows = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("merge_round"),
                F.lit(a_).alias("a"),
                F.lit(b_).alias("b"),
                F.lit(m_).alias("merged"),
                F.lit(c_).cast("long").alias("pair_count"),
            )
            for (r, a_, b_, m_, c_) in merges
        ]
    )
    return (
        sp.range(1)
        .select(F.explode(rows).alias("_m"))
        .select("_m.merge_round", "_m.a", "_m.b", "_m.merged", "_m.pair_count")
    )
