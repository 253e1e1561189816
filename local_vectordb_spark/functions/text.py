"""Text-analysis column expressions (north-star ops, SURVEY §2.5).

All JVM-side Catalyst expressions — no Python in the hot path — so a
100 TB documents table is scored in one codegen'd scan. Each function
returns a Column usable in select/filter/groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A tiny per-language marker lexicon for the n-gram/stopword language-ID
# heuristic. Real deployments would broadcast a bigger table; the
# mechanism (per-language hit counts → argmax) is the same.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "was"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "de", "que", "es"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS = ["the", "a", "of", "and", "is", "in", "to", "it"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty strings dropped."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# BPE-style pre-tokenization classes (letter runs / digit runs /
# punctuation singles) — the regex dialect-portable core of the GPT-2
# pattern, so an external SQL engine tokenizes identically.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_tokens(text: Column) -> Column:
    """BPE-ish sub-word pre-tokens: letter runs, digit runs, and
    individual punctuation marks (whitespace dropped). The unit an
    actual BPE vocabulary would merge within; counting these gives the
    standard pre-training corpus size estimate."""
    return F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0)


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text))


def char_count(text: Column) -> Column:
    return F.length(text)


def avg_token_len(text: Column) -> Column:
    """Mean token length in double precision (0.0 for empty text)."""
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
    )
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(total / n)


def _count_occurrences(text: Column, needle: str) -> Column:
    """Occurrence count via the length-difference trick — identical
    semantics in any SQL engine, so oracle-parity is exact."""
    esc = needle.replace("\\", "\\\\")
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(esc), F.lit(""))))
        / len(needle)
    ).cast("long")


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are neither alphanumeric nor
    whitespace (ASCII heuristic — engine-portable, so oracle-checkable)."""
    stripped = F.regexp_replace(F.lower(text), r"[a-z0-9\s]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        F.length(stripped).cast("double") / F.length(text)
    )


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are (lowercased) stopwords."""
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n)


def quality_score(text: Column) -> Column:
    """Composite heuristic quality in [0,1]: rewards mid-length docs and
    a natural stopword rate, penalizes punctuation soup. The exact
    weights are arbitrary; the point is a fully JVM-side scoring scan.
    """
    length_term = F.least(token_count(text).cast("double") / 100.0, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    punct_term = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 5.0)
    return F.round((length_term + stop_term + punct_term) / 3.0, 6)


def quality_score_batch():
    """Arrow-batched twin of :func:`quality_score` — the same composite
    in [0,1], value-identical per document, without the interpreted
    higher-order-function tax (the Column form's stopword filter and
    token aggregate run per token per row interpreted under 4.1.x —
    the winnow_fingerprints_batch story; guide §4.2).

    Parity argument (pinned by
    tests/test_text_quality.py::test_quality_score_batch_parity over
    the full fixture corpus):
    - tokenization: Java regex ``\\s`` is the ASCII set
      [ \\t\\n\\x0B\\f\\r]; Python's ``re.ASCII`` flag selects exactly
      the same set, so the token and punctuation splits agree byte for
      byte;
    - every arithmetic step reproduces the Column tree's operation
      order ((hits/n)*5.0, n/100.0, 1.0 - ratio*5.0, (a+b+c)/3.0) in
      IEEE float64, so intermediate doubles are bit-equal;
    - the final round replicates Spark's Round-on-DoubleType exactly:
      BigDecimal.valueOf(d) parses Double.toString(d) — the shortest
      round-trip decimal form, which is what Python ``repr(float)``
      produces — then HALF_UP at 6 decimals.
    NULL text yields round(2/3, 6), as in the Column form (least/
    greatest skip NULL operands there — see the kernel's NULL branch).
    """
    import re
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    ws = re.compile(r"\s+", re.ASCII)
    punct = re.compile(r"[a-z0-9\s]", re.ASCII)
    stop = frozenset(STOPWORDS)
    q6 = Decimal("0.000001")

    def _one(t: str | None) -> float | None:
        if t is None:
            # the Column form does NOT yield NULL: every term is NULL,
            # least(NULL, 1.0) skips NULLs → 1.0 (twice) and
            # greatest(0.0, NULL) → 0.0, so quality = round(2/3, 6)
            tot = (1.0 + 1.0 + 0.0) / 3.0
            return float(Decimal(repr(tot)).quantize(q6, ROUND_HALF_UP))
        low = t.lower()
        toks = [x for x in ws.split(low) if x]
        n = len(toks)
        length_term = min(n / 100.0, 1.0)
        if n == 0:
            stop_term = 0.0
        else:
            hits = 0
            for x in toks:
                if x in stop:
                    hits += 1
            stop_term = min((hits / n) * 5.0, 1.0)
        lt = len(t)
        ratio = (len(punct.sub("", low)) / lt) if lt else 0.0
        punct_term = max(0.0, 1.0 - ratio * 5.0)
        tot = (length_term + stop_term + punct_term) / 3.0
        return float(Decimal(repr(tot)).quantize(q6, ROUND_HALF_UP))

    def _score(texts):
        return texts.map(_one)

    # `from __future__ import annotations` stringizes hints, which the
    # pandas-UDF type-hint inference can't resolve — set real ones
    _score.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_score, DoubleType())


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-token hit counts over lowercased tokens."""
    toks = tokens(F.lower(text))
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Argmax language by marker hits; 'und' (undetermined) when no
    marker matches. Deterministic tie-break: language name ascending.

    One fold over the (hits, lang) array: the earlier max_hits/winners
    formulation CAPTURED the pairs array inside filter/transform
    lambdas, re-evaluating all five tokenize+count expressions dozens
    of times per row (the winnow/shingles capture trap). Here pairs is
    the aggregate's ARGUMENT (one evaluation); strict `>` keeps the
    first — lexicographically smallest — language among maxima because
    the array is built in sorted-language order.
    """
    langs = sorted(LANG_MARKERS)
    toks = tokens(F.lower(text))
    init = F.array(*[F.lit(0) for _ in langs])

    def merge(acc, t):
        return F.array(
            *[
                F.element_at(acc, i + 1)
                + F.when(t.isin(LANG_MARKERS[lang]), 1).otherwise(0)
                for i, lang in enumerate(langs)
            ]
        )

    def finish(acc):
        mx = F.greatest(*[F.element_at(acc, i + 1) for i in range(len(langs))])
        expr = F.when(mx == F.lit(0), F.lit("und"))
        # chained whens in sorted-language order: first max wins
        for i, lang in enumerate(langs):
            expr = expr.when(F.element_at(acc, i + 1) == mx, F.lit(lang))
        return expr

    return F.aggregate(toks, init, merge, finish)


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse runs of
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Document fingerprint = md5 of the normalized text (the batch
    equivalent of the reference having none — content identity was
    filename-only, /root/reference/src/models/collection.py:58-60)."""
    return F.md5(normalize_text(text))


ROLLING_BASE = 31
ROLLING_MOD = 2_147_483_647  # 2^31-1: keeps acc*31+code < 2^36, no long overflow


def ascii_only(text: Column) -> Column:
    """Strip non-printable-ASCII so char-code arithmetic is identical
    across engines (codepoint-of-first-char semantics differ off-ASCII)."""
    return F.regexp_replace(text, r"[^\x20-\x7e]", "")


def rolling_hash(text: Column) -> Column:
    """Polynomial rolling hash of the whole string:
    h = (((c1*B + c2)*B + c3)...) mod M — the Rabin-Karp form, computed
    as one codegen'd aggregate over the char array (no UDF)."""
    codes = F.transform(F.split(text, ""), F.ascii)
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLLING_BASE + c.cast("long")) % ROLLING_MOD,
    )


def winnow_fingerprints(text: Column, k: int = 7, w: int = 4) -> Column:
    """Winnowing fingerprint set (Schleimer/Wilkerson/Aiken): rolling
    hash every k-gram, then keep the minimum hash of each w-window —
    the near-dup detection fingerprint that survives local edits.
    Returns a distinct ARRAY<LONG>; entirely JVM-side array lambdas.
    """
    # Expression-evaluation discipline: anything CAPTURED inside a
    # higher-order-function lambda is re-evaluated PER ELEMENT (Spark
    # inlines it), so a naive transform(sequence(...), i ->
    # hash(substring(t, i, k))) re-normalizes the whole document for
    # every gram — O(n^2). Everything below passes big arrays only as
    # function ARGUMENTS (evaluated once) or in a constant number (k,w)
    # of shifted slices.
    t = normalize_text(ascii_only(text))
    codes = F.transform(F.split(t, ""), lambda c: F.ascii(c).cast("long"))
    n_grams = F.greatest(F.size(codes) - (k - 1), F.lit(1))
    # gram hash h[i] = sum_j codes[i+j] * B^(k-1-j) mod M, built as an
    # element-wise chain over k shifted slices (congruent to the Horner
    # form the oracle computes, since mod distributes over the sum)
    hashes = F.transform(
        F.slice(codes, 1, n_grams),
        lambda c: (c * (ROLLING_BASE ** (k - 1) % ROLLING_MOD)) % ROLLING_MOD,
    )
    def _add_weighted(wt: int):
        return lambda acc, c: (acc + c * wt) % ROLLING_MOD

    for j in range(1, k):
        hashes = F.zip_with(
            hashes,
            F.slice(codes, j + 1, n_grams),
            _add_weighted(ROLLING_BASE ** (k - 1 - j) % ROLLING_MOD),
        )
    # documents shorter than k chars have ONE short gram whose Horner
    # hash uses lower powers — fall back to the whole-string hash
    hashes = F.when(F.length(t) < k, F.array(rolling_hash(t))).otherwise(hashes)
    # Window minima as an element-wise least() over w shifted slices.
    # (A transform(sequence(1,n), j -> array_min(slice(hashes,j,w)))
    # lambda re-evaluates the whole `hashes` expression per window index
    # — O(n^2 k); the zip_with chain evaluates it w times — O(w n k).)
    n_windows = F.greatest(F.size(hashes) - (w - 1), F.lit(1))
    mins = F.slice(hashes, 1, n_windows)
    for off in range(1, w):
        # short tails: slice returns fewer elements, zip_with pads with
        # null, and least() ignores nulls — exactly min-of-available
        mins = F.zip_with(
            mins, F.slice(hashes, off + 1, n_windows), lambda a, b: F.least(a, b)
        )
    return F.array_sort(F.array_distinct(mins))


def winnow_fingerprints_batch(k: int = 7, w: int = 4) -> Column:
    """Arrow-batched winnowing UDF factory: returns a pandas UDF
    computing the SAME fingerprints as :func:`winnow_fingerprints`
    (apply it to ``normalize_text(ascii_only(text))`` — normalization
    stays JVM-side so cross-engine semantics are untouched; the UDF is
    pure integer arithmetic, engine-independent by construction).

    Why this exists: the pure-Column form builds one expression tree
    with ~k·w textual copies of the char-code pipeline. Runtime
    subexpression elimination keeps its steady-state execution fast,
    but ANALYSIS of the ~36 KB tree costs seconds per fresh plan under
    PySpark 4.1.x (the BENCH r4 `text_fingerprint_winnow` regression is
    plan-compile, not execution). The UDF plan is a few nodes — fast to
    analyze — and the per-row work is vectorized numpy over char codes
    (Arrow batch in, no per-row Python in the interpreter loop shape
    that row-UDFs have). Prefer this in repeated-fresh-plan contexts
    (benchmarks, interactive use); the Column form remains for
    pure-JVM pipelines.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    B, M = ROLLING_BASE, ROLLING_MOD
    weights = [pow(B, k - 1 - j, M) for j in range(k)]
    pad = np.iinfo(np.int64).max

    def _one(t: str | None) -> list[int] | None:
        if t is None:
            return None
        c = np.frombuffer(t.encode("ascii", "ignore"), dtype=np.uint8).astype(
            np.int64
        )
        n = len(c)
        if n < k:
            h = 0
            for x in c.tolist():
                h = (h * B + x) % M
            return [h]
        m = n - k + 1
        H = np.zeros(m, dtype=np.int64)
        for j, wt in enumerate(weights):
            H = (H + c[j : j + m] * wt) % M
        nw = max(m - w + 1, 1)
        mins = H[:nw].copy()
        for off in range(1, w):
            seg = H[off : off + nw]
            if len(seg) < nw:  # short tail: min over available only
                seg = np.concatenate(
                    [seg, np.full(nw - len(seg), pad, dtype=np.int64)]
                )
            mins = np.minimum(mins, seg)
        return sorted(set(mins.tolist()))

    def _winnow(texts):
        return texts.map(_one)

    # `from __future__ import annotations` stringizes hints, which the
    # pandas-UDF type-hint inference can't resolve — set real ones
    _winnow.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_winnow, ArrayType(LongType()))


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text — the unit
    set for Jaccard/MinHash dedup.

    One-evaluation invariant: the normalize+tokenize pipeline (lower →
    regexp_replace → trim → split → filter) is evaluated ONCE per
    document. The token array is bound as the argument of one
    higher-order function, ``element_at(transform(array(toks), t ->
    grams_of(t)), 1)``, so every use inside ``grams_of`` is the lambda
    variable ``t``. Written inline, the ~7 copies of ``toks`` (gram
    count, each shifted slice, the empty guard) inside ``zip_with``'s
    arguments run under interpreted ``eval``, where subexpression
    elimination does not apply: the regex pipeline ran ~7× per document.

    Grams are a constant-count zip_with chain over n shifted slices
    (the expression-evaluation discipline from ``winnow_fingerprints``).
    The edges the SQL oracles pin: documents with fewer than n tokens
    yield ONE shorter gram (join of the available tokens), and empty/
    whitespace-only/NULL text yields [''] (the coalesce keeps NULL
    docs in dedup, where the bare chain would propagate NULL).
    """

    def grams_of(toks: Column) -> Column:
        m = F.greatest(F.size(toks) - n, F.lit(0)) + F.lit(1)
        grams = F.slice(toks, 1, m)
        for j in range(1, n):
            # tail grams run past the array: zip_with pads with null —
            # keep the shorter gram, matching concat_ws-of-available
            grams = F.zip_with(
                grams,
                F.slice(toks, j + 1, m),
                lambda g, t: F.when(t.isNull(), g).otherwise(
                    F.concat(g, F.lit(" "), t)
                ),
            )
        return F.when(F.size(toks) == 0, F.array(F.lit(""))).otherwise(grams)

    toks = F.coalesce(
        tokens(normalize_text(text)), F.array().cast("array<string>")
    )
    return F.array_distinct(F.element_at(F.transform(F.array(toks), grams_of), 1))


def word_ngrams(text: Column, n: int = 2) -> Column:
    """Word n-grams of the normalized text WITH multiplicity (unlike
    ``shingles``, which dedups) — the unit for repetition scoring.
    Built as a constant-count zip_with chain over n shifted slices, so
    the token array is evaluated O(n) times, never per-gram (see the
    expression-evaluation note in ``winnow_fingerprints``). Documents
    with fewer than n tokens yield an empty array."""
    return ngrams_of(tokens(normalize_text(text)), n)


def ngrams_of(toks: Column, n: int) -> Column:
    """Word n-grams (with multiplicity) of a pre-computed token array."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return grams


def dup_frac_of(grams: Column) -> Column:
    """Duplicate fraction of a PRE-COMPUTED gram array: 1 -
    distinct/total (0.0 for an empty array). Take the array as a
    column from a prior select — passing `word_ngrams(text, n)`
    directly into several metrics re-tokenizes the document once per
    metric (CollapseProject inlines nothing here; each output column
    evaluates its whole tree)."""
    total = F.size(grams)
    return F.when(total == 0, F.lit(0.0)).otherwise(
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total, 6
        )
    )


def top_frac_of(grams: Column) -> Column:
    """Fraction of occurrences taken by the most frequent element of a
    PRE-COMPUTED gram array. Computed without a shuffle: sort the
    array, then one aggregate() fold tracks the longest run of equal
    neighbours — mode frequency of a sorted array."""
    total = F.size(grams)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def _merge(acc: Column, g: Column) -> Column:
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    best = F.aggregate(F.array_sort(grams), acc0, _merge, lambda acc: acc["best"])
    return F.when(total == 0, F.lit(0.0)).otherwise(
        F.round(best.cast("double") / total, 6)
    )


def dup_ngram_frac(text: Column, n: int = 2) -> Column:
    """Gopher-style duplicate n-gram fraction: 1 - distinct/total.
    High values flag boilerplate and degenerate repetition. 0.0 for
    documents too short to form a gram. (Single-metric convenience —
    when computing several metrics per document, build the gram array
    once in a prior select and use ``dup_frac_of``/``top_frac_of``.)"""
    return dup_frac_of(word_ngrams(text, n))


def top_ngram_frac(text: Column, n: int = 2) -> Column:
    """Fraction of n-gram occurrences taken by the single most frequent
    n-gram (Gopher's top-n-gram filter). See ``top_frac_of``."""
    return top_frac_of(word_ngrams(text, n))


# PII patterns (regex-dialect portable: no backreferences, ASCII word
# boundaries only — identical semantics under Java regex and RE2, so
# the scrub is oracle-checkable in any SQL engine).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}(\.\d{1,3}){3}\b"
PII_PHONE = r"\+\d{7,15}"


def scrub_pii(text: Column) -> Column:
    """Redact emails, IPv4 addresses, and international-format phone
    numbers with typed placeholders. Email first (its local part may
    contain digits and dots that the other patterns could nibble),
    then IP, then phone; placeholders contain no digits, so the
    passes cannot re-match each other's output. Pure codegen'd
    regexp_replace chain — one scan at any corpus size."""
    out = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (pre-scrub), for audit aggregates."""
    return {
        "emails": F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), 0)).cast("long"),
        "ips": F.size(F.regexp_extract_all(text, F.lit(PII_IPV4), 0)).cast("long"),
        "phones": F.size(F.regexp_extract_all(text, F.lit(PII_PHONE), 0)).cast("long"),
    }
