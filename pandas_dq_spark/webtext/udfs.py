"""The vectorized Arrow-native text-scores UDF: language-ID +
perplexity (the fastText / KenLM stand-ins, BASELINE.json north_star)
+ token/char/line stats, in one pass.

This is the ONLY Python-on-executor stage in the whole pipeline
(input_hint: 'vectorized pandas/Arrow UDFs (no per-row Python)').
The model tables are module-level constants shipped once per worker
via the closure, not per row.

One UDF produces the fused per-document scores: an ARROW-NATIVE
scalar UDF (``F.arrow_udf``, Spark 4.1, built by
:func:`make_text_scores_udf`).  The batch arrives as a
``pyarrow.Array`` and the result leaves as a ``pyarrow.StructArray``
— no pandas object-Series materialization on either side (r6: the
pandas_udf wrapper used to allocate one Python str per document on
entry and convert the whole frame back to Arrow on exit; guide §4.1
'how efficiently they cross').  Tokenization stays in Arrow C++
(``utf8_split_whitespace`` + ``dictionary_encode``), so Python never
materializes the per-token objects — only the batch's (small) token
dictionary.  Per-unique-word properties are cached across batches AND
across tasks (module-level cache keyed by the stopword set, guide
§4.5: functions imported from a shipped module keep their globals in
a reused worker); per-document sums are segmented numpy reductions;
the bigram log-probs come from one dense-matrix gather (lm.LM_FLAT).
Measured at 40k docs / 6.2M tokens the vectorized kernel is ~5x the
loop kernel.

:func:`loop_scores_frame`, the straightforward per-token python loop,
is the executable specification the vectorized kernel is
parity-tested against (tests/test_udf_kernels.py); it runs on the
driver only.

Exactness: every output field is bit-identical between the two kernels
EXCEPT ``ppl``, whose per-document log-prob sum uses numpy pairwise
summation instead of the loop's sequential adds — same addends, so the
results agree to the last ulp (<1e-12 relative, asserted in tests).
The keep/drop rules compare ppl against a threshold, which a last-ulp
difference cannot flip for any realistically-positioned document; the
frozen goldens (scripts/freeze_webtext_golden.py) remain the sequential
lm.perplexity values.

Arrow tokenizer parity with python ``str.split()``: Arrow's
split-on-whitespace uses the same character class as str.isspace()
(incl. \\x1c-\\x1f, \\x85, \\xa0 — verified in tests), but keeps
empty tokens at the string's edges; the kernel therefore trims first,
and an all-whitespace document (Arrow: ``['']``) is remapped to zero
tokens.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lm import (
    CTX_ROW,
    LM_COLS,
    LM_FLAT,
    LM_START_ROW_BASE,
    LM_UNK_COL,
    LOG_BIGRAM,
    LOG_UNSEEN,
    LOG_UNSEEN_CTX,
    MARKER_ID,
    NEXT_COL,
    _LANG_ORDER,
)

_LANG_ARR = np.array(_LANG_ORDER, dtype=object)
_NLANG = len(_LANG_ORDER)

# ---- fused token-stats + scores kernel (the pipeline's hot path) -----
#
# Measured at 1M docs / local[32]: token-level stats as Catalyst array
# expressions cost 66s — CollapseProject inlines split() into every
# consumer and array_contains linear-scans the stopword literal per
# token — while a single Arrow pass costs ~4s (loop kernel), ~1s
# (arrow kernel).  "UDFs are the slow path" loses to
# O(tokens x stopwords) JVM scans here, and langid+ppl already require
# the Python pass, so the marginal cost of the extra counters is near
# zero.

TEXT_SCORES_SCHEMA = T.StructType(
    [
        T.StructField("lang_pred", T.StringType()),
        T.StructField("lang_score", T.DoubleType()),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("mean_word_len", T.DoubleType()),
        T.StructField("stopword_frac", T.DoubleType()),
        T.StructField("non_alpha_word_frac", T.DoubleType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("symbol_ratio", T.DoubleType()),
        T.StructField("repeated_line_frac", T.DoubleType()),
        T.StructField("ellipsis_line_frac", T.DoubleType()),
    ]
)

# every per-document field the fused pass produces, in schema order —
# pipeline/streaming extract exactly these from the struct
TEXT_SCORES_FIELDS = tuple(f.name for f in TEXT_SCORES_SCHEMA.fields)

# word -> props caches, one per stopword set, shared by every batch of
# every task in a reused Python worker (guide §4.5: module-level state
# survives task boundaries because this module is imported, not
# pickled by value).  Web text repeats words heavily, so once warm the
# per-batch unique-word property loop is almost entirely dict hits.
_WORD_PROPS_CACHES: dict[frozenset, dict] = {}


def _props_cache_for(stop_set: frozenset) -> dict:
    c = _WORD_PROPS_CACHES.get(stop_set)
    if c is None:
        c = _WORD_PROPS_CACHES.setdefault(stop_set, {})
    return c


def make_word_props(stop_set: frozenset):
    """word -> (len, is_stop, non_alpha, marker_id, lm_row_base,
    lm_col, n_alnum); the per-word facts both kernels score from.

    ``n_alnum`` powers document symbol counting without a text scan:
    whitespace-split tokens partition exactly the non-isspace()
    characters of the document, so
      n_symbols = sum(len(w)) - sum(n_alnum(w))
    equals the reference's per-character
      sum(not (ch.isalnum() or ch.isspace()))
    (proved by the loop-kernel parity test, which computes the
    per-character form directly)."""

    def _props(w: str) -> tuple:
        return (
            len(w),
            1 if w in stop_set else 0,
            0 if any(c.isalpha() for c in w) else 1,
            MARKER_ID.get(w, 0),
            CTX_ROW.get(w, len(CTX_ROW)) * LM_COLS,
            NEXT_COL.get(w, LM_UNK_COL),
            sum(1 for c in w if c.isalnum()),
        )

    return _props


def _empty_scores_struct() -> pa.StructArray:
    def _typ(name: str):
        if name == "lang_pred":
            return pa.string()
        if name in ("n_words", "n_chars"):
            return pa.int32()
        return pa.float64()

    return pa.StructArray.from_arrays(
        [pa.array([], type=_typ(f)) for f in TEXT_SCORES_FIELDS],
        names=list(TEXT_SCORES_FIELDS),
    )


def arrow_scores_struct(
    arr: pa.Array, stop_set: frozenset, cache: dict | None = None
) -> pa.StructArray:
    """The vectorized kernel core: one Arrow batch of raw text -> one
    ``pa.StructArray`` with the TEXT_SCORES_SCHEMA fields.  Arrow in,
    Arrow out — zero pandas, zero per-document Python objects.

    Stages (all C/C++ except the per-UNIQUE-word property loop):
      1. Arrow: fill_null -> trim -> split_whitespace -> flatten ->
         dictionary_encode.  Token count per doc from the list offsets.
      2. numpy: per-token property gathers from per-unique arrays,
         segmented per-document sums (add.reduceat over doc starts),
         language-marker counts via ONE bincount over
         doc_index*(L+1)+marker_id, bigram log-probs via one gather
         from the dense lm.LM_FLAT matrix (rows shifted by one token
         within each doc; doc starts use the "<s>" row).
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    cache = cache if cache is not None else _props_cache_for(stop_set)
    _props = make_word_props(stop_set)
    B = len(arr)
    if B == 0:
        # a zero-row batch would leave the line dictionary empty and
        # the distinct-count key arithmetic degenerate
        return _empty_scores_struct()
    arr = pc.fill_null(arr, "")
    trimmed = pc.utf8_trim_whitespace(arr)
    tok = pc.utf8_split_whitespace(trimmed)
    lens = np.diff(np.asarray(tok.offsets, dtype=np.int64))
    flat = tok.flatten()
    # all-whitespace docs give exactly one '' token each: drop them
    empty_doc = np.asarray(pc.equal(pc.utf8_length(trimmed), 0))
    if empty_doc.any():
        lens = np.where(empty_doc, 0, lens)
        flat = flat.filter(pc.greater(pc.utf8_length(flat), 0))

    # ---- char/line-level stats (all docs, raw untrimmed text) -------
    n_chars = np.asarray(pc.utf8_length(arr), dtype=np.int64)
    ln = pc.split_pattern(arr, pattern="\n")  # python split('\n'): keeps empties
    n_lines = np.diff(np.asarray(ln.offsets, dtype=np.int64))  # always >= 1
    lflat = ln.flatten()
    lde = pc.dictionary_encode(lflat)
    lcodes = np.asarray(lde.indices, dtype=np.int64)
    n_ldict = len(lde.dictionary)
    l_starts = np.zeros(B, dtype=np.int64)
    np.cumsum(n_lines[:-1], out=l_starts[1:])
    line_doc = np.repeat(np.arange(B, dtype=np.int64), n_lines)
    # distinct lines per doc: unique (doc, line-code) pairs
    distinct_lines = np.bincount(
        np.unique(line_doc * n_ldict + lcodes) // n_ldict, minlength=B
    )
    u_ell = np.asarray(pc.ends_with(lde.dictionary, pattern="..."))
    ell_lines = np.add.reduceat(u_ell[lcodes].astype(np.int64), l_starts)
    repeated_line_frac = 1.0 - distinct_lines / n_lines
    ellipsis_line_frac = ell_lines / n_lines

    nz = lens > 0
    lang_pred = np.full(B, "und", dtype=object)
    lang_score = np.zeros(B)
    ppl = np.full(B, np.inf)
    mwl = np.zeros(B)
    swf = np.zeros(B)
    naf = np.zeros(B)
    symbol_ratio = np.zeros(B)
    n_nz = int(nz.sum())
    if n_nz:
        de = pc.dictionary_encode(flat)
        codes = np.asarray(de.indices, dtype=np.int64)
        uniques = de.dictionary.to_pylist()
        n_u = len(uniques)
        up = np.empty((7, n_u), dtype=np.int64)
        cg = cache.get
        for i in range(n_u):
            w = uniques[i]
            p = cg(w)
            if p is None:
                p = _props(w)
                if len(cache) < 2_000_000:
                    cache[w] = p
            (
                up[0, i],
                up[1, i],
                up[2, i],
                up[3, i],
                up[4, i],
                up[5, i],
                up[6, i],
            ) = p
        u_len, u_stop, u_non, u_mark, u_row, u_col, u_aln = (
            np.ascontiguousarray(up[k]) for k in range(7)
        )
        lens_nz = lens[nz]
        starts = np.zeros(n_nz, dtype=np.int64)
        np.cumsum(lens_nz[:-1], out=starts[1:])
        sum_len = np.add.reduceat(u_len[codes], starts)
        n_stop = np.add.reduceat(u_stop[codes], starts)
        n_non = np.add.reduceat(u_non[codes], starts)
        n_alnum = np.add.reduceat(u_aln[codes], starts)
        doc_idx = np.repeat(np.arange(n_nz, dtype=np.int64), lens_nz)
        key = doc_idx * (_NLANG + 1) + u_mark[codes]
        counts = np.bincount(key, minlength=n_nz * (_NLANG + 1)).reshape(
            n_nz, _NLANG + 1
        )[:, 1:]
        # argmax returns the FIRST maximum: same tie-break as the
        # loop's strict-greater scan in LANG_POOLS order
        best_idx = np.argmax(counts, axis=1)
        best = counts[np.arange(n_nz), best_idx]
        rowbase = np.empty(len(codes), dtype=np.int64)
        rowbase[1:] = u_row[codes[:-1]]
        rowbase[starts] = LM_START_ROW_BASE
        logp = np.add.reduceat(LM_FLAT[rowbase + u_col[codes]], starts)
        lp = _LANG_ARR[best_idx]
        lp[best == 0] = "und"
        lang_pred[nz] = lp
        lang_score[nz] = best / lens_nz
        ppl[nz] = np.exp(-logp / lens_nz)
        mwl[nz] = sum_len / lens_nz
        swf[nz] = n_stop / lens_nz
        naf[nz] = n_non / lens_nz
        # token chars partition the non-whitespace chars, so symbols
        # (neither alnum nor whitespace) = token chars - alnum chars;
        # docs with zero tokens have zero symbols by the same identity
        symbol_ratio[nz] = (sum_len - n_alnum) / np.maximum(n_chars[nz], 1)
    return pa.StructArray.from_arrays(
        [
            pa.array(lang_pred, type=pa.string()),
            pa.array(lang_score),
            pa.array(ppl),
            pa.array(lens.astype(np.int32)),
            pa.array(mwl),
            pa.array(swf),
            pa.array(naf),
            pa.array(n_chars.astype(np.int32)),
            pa.array(symbol_ratio),
            pa.array(repeated_line_frac),
            pa.array(ellipsis_line_frac),
        ],
        names=list(TEXT_SCORES_FIELDS),
    )


def arrow_scores_frame(
    texts: pd.Series, stop_set: frozenset, cache: dict | None = None
) -> pd.DataFrame:
    """pandas wrapper over :func:`arrow_scores_struct` — kept as the
    stable kernel-parity surface (tests compare this frame against
    ``loop_scores_frame``); the Spark UDF path goes Arrow-native and
    never builds this frame."""
    struct = arrow_scores_struct(
        pa.array(texts, type=pa.string(), from_pandas=True), stop_set, cache
    )
    if len(struct) == 0:
        return pd.DataFrame(
            {
                f.name: pd.Series(
                    [], dtype="object" if f.name == "lang_pred" else
                    ("int32" if f.name in ("n_words", "n_chars") else "float64")
                )
                for f in TEXT_SCORES_SCHEMA.fields
            }
        )
    return pd.DataFrame(
        {name: struct.field(name).to_pandas() for name in TEXT_SCORES_FIELDS}
    )


def loop_scores_frame(texts: pd.Series, stop_set: frozenset) -> pd.DataFrame:
    """The per-token python loop: the executable spec for
    arrow_scores_struct (bit-identical to lm.langid_scores /
    lm.perplexity), with a per-word property memo.

    The char/line stats here use the REFERENCE's direct formulas
    (per-character isalnum/isspace scan, set() over split('\\n')
    lines, str.endswith) — the parity test against the vectorized
    kernel is what proves the kernel's token-partition reformulation
    of symbol counting correct."""
    cache: dict[str, tuple] = {}
    _props = make_word_props(stop_set)
    out = {f.name: [] for f in TEXT_SCORES_SCHEMA.fields}
    memo_get = cache.get
    lb_get, lu_get = LOG_BIGRAM.get, LOG_UNSEEN_CTX.get
    for t in texts:
        t = t or ""
        toks = t.split()
        n = len(toks)
        n_chars = len(t)
        n_sym = sum(
            1 for ch in t if not (ch.isalnum() or ch.isspace())
        )
        lines = t.split("\n")
        n_lines = len(lines)  # always >= 1
        out["n_chars"].append(n_chars)
        out["symbol_ratio"].append(n_sym / n_chars if n_chars else 0.0)
        out["repeated_line_frac"].append(1.0 - len(set(lines)) / n_lines)
        out["ellipsis_line_frac"].append(
            sum(1 for l in lines if l.endswith("...")) / n_lines
        )
        if n == 0:
            out["lang_pred"].append("und")
            out["lang_score"].append(0.0)
            out["ppl"].append(float("inf"))
            out["n_words"].append(0)
            out["mean_word_len"].append(0.0)
            out["stopword_frac"].append(0.0)
            out["non_alpha_word_frac"].append(0.0)
            continue
        sum_len = n_stop = n_nonalpha = 0
        lang_counts: dict[str, int] = {}
        logp = 0.0
        prev = "<s>"
        for w in toks:
            p = memo_get(w)
            if p is None:
                p = _props(w)
                if len(cache) < 2_000_000:
                    cache[w] = p
            sum_len += p[0]
            n_stop += p[1]
            n_nonalpha += p[2]
            ml = p[3]
            if ml:
                lang_counts[ml] = lang_counts.get(ml, 0) + 1
            v = lb_get((prev, w))
            if v is None:
                v = lu_get(prev, LOG_UNSEEN)
            logp += v
            prev = w
        best_id, best = 0, 0
        for li in range(1, _NLANG + 1):
            hits = lang_counts.get(li, 0)
            if hits > best:
                best, best_id = hits, li
        out["lang_pred"].append(
            _LANG_ORDER[best_id - 1] if best else "und"
        )
        out["lang_score"].append(best / n)
        out["ppl"].append(math.exp(-logp / n))
        out["n_words"].append(n)
        out["mean_word_len"].append(sum_len / n)
        out["stopword_frac"].append(n_stop / n)
        out["non_alpha_word_frac"].append(n_nonalpha / n)
    return pd.DataFrame(out)


def make_text_scores_udf(stopwords: tuple, row_counter=None):
    """The ARROW-NATIVE scalar scores UDF (``F.arrow_udf``): batches
    stay ``pyarrow`` end-to-end, skipping the pandas object-Series
    round-trip the old pandas_udf wrapper paid on both sides of the
    boundary (r6, guide §4).

    ``row_counter`` (an optional Spark accumulator) counts rows the
    UDF actually processes — the pipeline tests use it to assert the
    Arrow pass runs exactly ONCE per row per run (no double compute)."""
    stop_set = frozenset(stopwords)

    @F.arrow_udf(TEXT_SCORES_SCHEMA)
    def text_scores_arrow_udf(texts: pa.Array) -> pa.Array:
        if row_counter is not None:
            row_counter.add(len(texts))
        return arrow_scores_struct(texts, stop_set)

    return text_scores_arrow_udf
