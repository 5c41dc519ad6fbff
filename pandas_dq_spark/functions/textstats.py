"""Text-analysis column expressions for training-data pipelines:
token counting, word n-grams, quality scoring, heuristic language-ID,
document fingerprinting.  All pure Catalyst (array functions + regex)
— no UDFs, so they fuse into the scan projection and stay in
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..webtext.lm import LANG_MARKERS


def tokens(text: Column) -> Column:
    """Whitespace tokenization; [''] for empty strings (matches both
    python ``re.split`` and DuckDB ``regexp_split_to_array``)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def mean_word_length(text: Column) -> Column:
    w = tokens(text)
    return F.when(
        F.size(w) > 0,
        F.aggregate(w, F.lit(0), lambda a, x: a + F.length(x)) / F.size(w),
    ).otherwise(F.lit(0.0))


def symbol_ratio(text: Column) -> Column:
    n = F.length(text)
    return F.when(
        n > 0, F.length(F.regexp_replace(text, r"[\p{L}\p{N}\s]", "")) / n
    ).otherwise(F.lit(0.0))


def stopword_fraction(text: Column, stopwords: list[str]) -> Column:
    w = tokens(text)
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.when(
        F.size(w) > 0,
        F.size(F.filter(w, lambda x: F.array_contains(arr, x))) / F.size(w),
    ).otherwise(F.lit(0.0))


def quality_score(text: Column, stopwords: list[str]) -> Column:
    """Composite [0,1] quality score: length band + low symbol ratio +
    stopword presence + word-length band.  Fixed weights, documented;
    the per-component expressions are shared with the webtext rules."""
    n_words = token_count(text)
    length_ok = F.when((n_words >= 50) & (n_words <= 100_000), 1.0).otherwise(
        F.when(n_words >= 10, 0.5).otherwise(0.0)
    )
    sym = symbol_ratio(text)
    sym_ok = F.greatest(F.lit(0.0), F.lit(1.0) - sym * 5.0)
    stop_ok = F.least(F.lit(1.0), stopword_fraction(text, stopwords) / 0.2)
    mwl = mean_word_length(text)
    mwl_ok = F.when((mwl >= 3) & (mwl <= 10), 1.0).otherwise(0.0)
    score = 0.3 * length_ok + 0.25 * sym_ok + 0.25 * stop_ok + 0.2 * mwl_ok
    # empty/blank docs score 0 outright
    blank = F.trim(text) == ""
    return F.when(blank, F.lit(0.0)).otherwise(score).alias("quality_score")


def lang_guess_expr(text: Column, langs: list[str] | None = None) -> Column:
    """Pure-expression language guess: argmax of marker-word hit
    counts per language (the no-UDF counterpart of the scores kernel's
    ``lang_pred``, webtext.udfs; same marker sets and tie-break, so
    predictions agree)."""
    langs = langs or list(LANG_MARKERS)
    w = tokens(text)
    scores = []
    for i, lang in enumerate(langs):
        markers = sorted(LANG_MARKERS[lang])
        arr = F.array(*[F.lit(m) for m in markers])
        scores.append(
            F.struct(
                F.size(F.filter(w, lambda x: F.array_contains(arr, x))).alias("hits"),
                # tie-break: NEGATIVE pool index so greatest() prefers
                # the EARLIEST pool on equal hits — matching
                # langid_scores' first-strictly-greater-wins loop
                # (webtext/lm.py), not lexicographic language order
                F.lit(-i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: polynomial rolling hash over word hashes
    (order-sensitive, whitespace-normalization-invariant).

    Every step reduces mod 2^31-1 so the fold cannot overflow
    ANSI-mode 64-bit arithmetic (acc*31 + h < 2^36)."""
    m = F.lit((1 << 31) - 1).cast("long")
    w = tokens(text)
    return F.aggregate(
        w,
        F.lit(1469598103).cast("long"),
        lambda acc, x: F.pmod(acc * F.lit(31).cast("long") + F.pmod(F.xxhash64(x), m), m),
    )


def word_ngrams(text: Column, n: int) -> Column:
    """Word ``n``-grams as an array<string>, each the ``n`` words joined
    by one space; [] for docs with < ``n`` words (null text counts as
    empty).  The one n-gram construction behind the repetition signals
    here and dedup's shingles."""
    w = F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(-1)))
    return F.when(F.size(w) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
    )


def duplicate_ngram_fraction(text: Column, n: int) -> Column:
    """Gopher-style within-document repetition signal: the fraction of
    word ``n``-grams that are repeats of an earlier one
    (``1 - distinct/total``; 0.0 for docs with < ``n`` words).

    Pure array expressions over :func:`word_ngrams` — the n-gram list
    never leaves the row, so this composes into any fused projection."""
    grams = word_ngrams(text, n)
    total = F.size(grams)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(grams)) / total
    )


def top_ngram_fraction(text: Column, n: int) -> Column:
    """Gopher's other repetition signal: the fraction of word
    ``n``-grams taken by the single MOST FREQUENT n-gram
    (``max_count / total``; 0.0 for docs with < ``n`` words).

    Fully Catalyst: sort the gram array, then one ``aggregate`` fold
    with a struct accumulator (prev, run, best) finds the longest run
    of equal neighbors — the mode's count — without the per-doc
    explode+groupBy a naive plan would shuffle."""
    grams = word_ngrams(text, n)
    sorted_g = F.sort_array(grams)
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    folded = F.aggregate(
        sorted_g,
        zero,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc["prev"].isNull() | (acc["prev"] != x), F.lit(1))
            .otherwise(acc["run"] + 1)
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"].isNull() | (acc["prev"] != x), F.lit(1))
                .otherwise(acc["run"] + 1),
            ).alias("best"),
        ),
    )
    total = F.size(grams)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        folded["best"] / total
    )
