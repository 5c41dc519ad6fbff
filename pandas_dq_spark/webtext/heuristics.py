"""Gopher/C4-style quality rules (SURVEY.md §2.8 'WT tokenish stats')
— the Spark analogue of pandas_dq's missing-value / outlier /
high-cardinality / duplicate checks, per the north rule.

:class:`QualityConfig` holds the thresholds and :func:`rule_exprs`
the keep/drop predicates.  The predicates read the per-document stats
columns that the one Arrow scores pass (webtext.udfs) produces, plus
``is_dup`` (the opt-in n-gram repetition rule reads the raw text
through array expressions); no rule is a UDF, so every rule fuses into
one projection inside whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from .lm import EN_STOPWORDS


@dataclass(frozen=True)
class QualityConfig:
    """Fixed rule thresholds (Gopher: Rae et al. 2021 §A1.1; C4:
    Raffel et al. 2020 §2.2 — both public papers)."""

    min_words: int = 50
    max_words: int = 100_000
    min_mean_word_len: float = 3.0
    max_mean_word_len: float = 10.0
    max_symbol_ratio: float = 0.10
    min_stopword_frac: float = 0.06
    max_repeated_line_frac: float = 0.30
    max_ellipsis_line_frac: float = 0.30
    max_non_alpha_word_frac: float = 0.40
    target_lang: str = "en"
    min_lang_score: float = 0.15
    max_perplexity: float = 1500.0
    n_buckets: int = 64
    stopwords: tuple = tuple(EN_STOPWORDS)
    # Gopher's duplicate-n-gram repetition rule — OPT-IN (None = off):
    # the default rule set is pinned by the keep/drop F1 parity suite
    # against the frozen reference labels, so new rules must not fire
    # unless explicitly configured
    max_dup_ngram_frac: float | None = None
    dup_ngram_n: int = 3


# rule -> (predicate builder over the stats columns, severity, detail)
# Names deliberately mirror the pandas_dq check vocabulary
# (missing / outlier / rare category / duplicate / high cardinality).
def rule_exprs(cfg: QualityConfig) -> list[tuple[str, Column, str]]:
    from ..functions.textstats import duplicate_ngram_fraction

    c = F.col
    return [
        (
            "empty_doc",
            (c("n_chars") == 0) | (c("n_words") == 0),
            "Document is empty or whitespace-only (missing-value analogue).",
        ),
        (
            "too_short",
            (c("n_words") > 0) & (c("n_words") < cfg.min_words),
            f"Fewer than {cfg.min_words} words (Gopher min length).",
        ),
        (
            "too_long",
            c("n_words") > cfg.max_words,
            f"More than {cfg.max_words} words (Gopher max length).",
        ),
        (
            "word_length_outlier",
            (c("n_words") > 0)
            & (
                (c("mean_word_len") < cfg.min_mean_word_len)
                | (c("mean_word_len") > cfg.max_mean_word_len)
            ),
            f"Mean word length outside [{cfg.min_mean_word_len}, {cfg.max_mean_word_len}] (outlier analogue).",
        ),
        (
            "symbol_outlier",
            c("symbol_ratio") > cfg.max_symbol_ratio,
            f"Symbol-to-char ratio above {cfg.max_symbol_ratio} (outlier analogue).",
        ),
        (
            "low_stopword",
            (c("n_words") > 0) & (c("stopword_frac") < cfg.min_stopword_frac),
            f"Stopword fraction below {cfg.min_stopword_frac} (Gopher).",
        ),
        (
            "repeated_lines",
            c("repeated_line_frac") > cfg.max_repeated_line_frac,
            f"Repeated-line fraction above {cfg.max_repeated_line_frac} (duplicate analogue).",
        ),
        (
            "ellipsis_lines",
            c("ellipsis_line_frac") > cfg.max_ellipsis_line_frac,
            f"Ellipsis-line fraction above {cfg.max_ellipsis_line_frac} (C4).",
        ),
        (
            "non_alpha_words",
            c("non_alpha_word_frac") > cfg.max_non_alpha_word_frac,
            f"Non-alphabetic word fraction above {cfg.max_non_alpha_word_frac} (Gopher).",
        ),
        (
            "non_target_language",
            (c("lang_pred") != cfg.target_lang)
            | (c("lang_score") < cfg.min_lang_score),
            f"Predicted language is not '{cfg.target_lang}' with sufficient confidence (rare-category analogue).",
        ),
        (
            "high_perplexity",
            c("ppl") > cfg.max_perplexity,
            f"LM perplexity above {cfg.max_perplexity}.",
        ),
        (
            "exact_duplicate",
            c("is_dup"),
            "Exact duplicate of another document (duplicate-row analogue).",
        ),
    ] + (
        [
            (
                "repetitive_ngrams",
                # computed from the raw text (pure array expressions,
                # fuses into the same projection as the other rules)
                duplicate_ngram_fraction(c("text"), cfg.dup_ngram_n)
                > cfg.max_dup_ngram_frac,
                f"Duplicate {cfg.dup_ngram_n}-gram fraction above "
                f"{cfg.max_dup_ngram_frac} (Gopher repetition rule).",
            )
        ]
        if cfg.max_dup_ngram_frac is not None
        else []
    )
