"""Kernel parity: the vectorized Arrow text-scores kernel must produce
the loop kernel's numbers — bit-identical everywhere except ppl, whose
per-doc sum is pairwise instead of sequential (last-ulp tolerance).
The loop kernel itself is pinned to lm.langid_scores / lm.perplexity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pandas_dq_spark.webtext.fixtures import pages_pdf
from pandas_dq_spark.webtext.heuristics import QualityConfig
from pandas_dq_spark.webtext.lm import langid_scores, perplexity
from pandas_dq_spark.webtext.udfs import (
    arrow_scores_frame,
    loop_scores_frame,
)

STOP = frozenset(QualityConfig().stopwords)

EXACT_COLS = [
    "lang_pred",
    "lang_score",
    "n_words",
    "mean_word_len",
    "stopword_frac",
    "non_alpha_word_frac",
    # char/line stats: the loop kernel computes these with the
    # reference's per-character / set-of-lines formulas, so equality
    # here PROVES the vectorized token-partition/dictionary versions
    "n_chars",
    "symbol_ratio",
    "repeated_line_frac",
    "ellipsis_line_frac",
]

EDGE_TEXTS = [
    None,
    "",
    "   ",
    "\t\n\r\x0b\x0c",
    "x",
    "  leading and trailing  ",
    "a\xa0b\x85c d",  # unicode whitespace == str.split semantics
    "a\x1cb\x1dc\x1ed\x1fe",  # C0 separators: python-isspace, arrow too
    "the of and to in a is that it was",
    "der die das und ist nicht",
    "word, word... end!",
    "éèê café réseau données",
    "999 123-45-6789 !!!",
    # line-stat edges: dup lines, trailing newline (empty last line),
    # ellipsis endings, lines differing only by whitespace
    "a\na\na\nb",
    "line one...\nline two\nline one...\n",
    "\n\n\n",
    "x \nx\n x",
    "²½ΩАб 日本語",  # non-ASCII alnum: isalnum vs \p{L}\p{N}
]


def _assert_parity(texts: pd.Series):
    a = arrow_scores_frame(texts, STOP)
    l = loop_scores_frame(texts, STOP)
    for c in EXACT_COLS:
        av, lv = a[c].to_numpy(), l[c].to_numpy()
        if av.dtype.kind == "O":
            assert (av == lv).all(), c
        else:
            assert (av == lv.astype(av.dtype)).all(), (
                c,
                np.max(np.abs(av - lv.astype(av.dtype))),
            )
    ap, lp = a["ppl"].to_numpy(), l["ppl"].to_numpy()
    fin = np.isfinite(lp)
    assert (np.isfinite(ap) == fin).all()
    if fin.any():
        rel = np.abs(ap[fin] - lp[fin]) / lp[fin]
        assert rel.max() < 1e-12, rel.max()


def test_kernel_parity_on_fixture():
    pdf = pages_pdf(1200)
    _assert_parity(pdf["text"])


def test_kernel_parity_edge_cases():
    _assert_parity(pd.Series(EDGE_TEXTS, dtype=object))


def test_loop_kernel_matches_lm_functions():
    # the loop kernel IS langid_scores/perplexity, bit for bit
    pdf = pages_pdf(300)
    l = loop_scores_frame(pdf["text"], STOP)
    for i, t in enumerate(pdf["text"]):
        toks = (t or "").split()
        lang, score = langid_scores(toks)
        assert l["lang_pred"][i] == lang
        assert l["lang_score"][i] == score
        p = perplexity(toks)
        assert l["ppl"][i] == p or (np.isinf(p) and np.isinf(l["ppl"][i]))


def test_empty_batch():
    a = arrow_scores_frame(pd.Series([], dtype=object), STOP)
    l = loop_scores_frame(pd.Series([], dtype=object), STOP)
    assert len(a) == 0 and len(l) == 0
    assert list(a.columns) == list(l.columns)


def test_persistent_cache_reused_across_batches():
    cache: dict = {}
    texts = pd.Series(["the data quality report", "the data engine"])
    arrow_scores_frame(texts, STOP, cache)
    n1 = len(cache)
    assert n1 >= 5
    out = arrow_scores_frame(texts, STOP, cache)
    assert len(cache) == n1  # no recompute growth
    assert out["n_words"].tolist() == [4, 3]


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(max_size=80),
            st.text(
                alphabet=st.characters(
                    whitelist_categories=("Zs", "Cc", "Ll", "Nd", "Po")
                ),
                max_size=80,
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_kernel_parity_property(texts):
    _assert_parity(pd.Series(texts, dtype=object))
