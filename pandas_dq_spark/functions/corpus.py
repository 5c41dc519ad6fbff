"""Corpus-preparation operators a large-scale training-data pipeline
needs beyond filtering/dedup (prompt §'beyond the reference'):
deterministic sampling / data mixing, document chunking, and
corpus-level term statistics.

Scale design:
- Sampling is a HASH-THRESHOLD predicate, not ``df.sample``: the
  decision is a pure function of the key column, so it is reproducible
  across runs, partitionings, and engines (the DuckDB oracle replays
  the identical predicate), prunes in the scan's filter (narrow, no
  shuffle, no RNG state), and composes with incremental reruns — a
  re-scraped page keeps its in/out verdict.  ``df.sample`` is none of
  those things (partition-RNG dependent, unstable under AQE
  repartitioning).
- Stratified mixing is ONE ``CASE WHEN`` threshold expression over the
  stratum column — no per-stratum jobs, no ``sampleBy`` (whose
  per-partition RNG has the same reproducibility problem).
- Chunking is pure Catalyst (split -> sequence -> slice ->
  posexplode), narrow, with no shuffle.  Each document is split into
  words once, into a column, and each window is sliced once: chunk
  text and word count both read that slice, so the optimized plan
  holds one ``split`` (inlined into one expression, the split would
  run again per CASE branch, per window and per output row).  Output
  rows carry (url, chunk_id) so downstream shuffles can key on them.
- TF-IDF is two map-side-combinable aggregations over one explode —
  the classic term-statistics shape; the explode never leaves the
  scan stage and only (term, counts) rows shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# md5-prefix threshold: 8 hex chars = 32 bits of the digest.  The
# comparison is LEXICOGRAPHIC on lowercase hex, which equals numeric
# order — portable to any engine with md5() (the DuckDB oracle uses
# the same literal).
_HASH_SPACE = 16 ** 8


def hash_threshold(fraction: float) -> str:
    """The 8-hex-digit threshold such that
    ``substr(md5(key),1,8) < threshold`` keeps ~``fraction`` of keys.

    Fraction 1.0 returns ``"g"`` — lexicographically above every hex
    string (a 9-digit ``"100000000"`` would sort BELOW ``"2…"``-
    prefixed hashes and silently drop them)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    v = int(round(fraction * _HASH_SPACE))
    if v >= _HASH_SPACE:
        return "g"
    return format(v, "08x")


def sample_predicate(key: F.Column, fraction: float) -> F.Column:
    """Deterministic keep-predicate: md5-prefix of ``key`` below the
    fraction threshold.  Pure function of the key — reproducible
    across runs/engines/partitionings."""
    return F.substring(F.md5(key.cast("string")), 1, 8) < F.lit(
        hash_threshold(fraction)
    )


def deterministic_sample(
    df: DataFrame, fraction: float, key_col: str = "url"
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided per-row by the key hash.

    A narrow filter — no shuffle, no RNG state; the same row is kept
    or dropped in every run and on every engine."""
    return df.filter(sample_predicate(F.col(key_col), fraction))


def stratified_mix(
    df: DataFrame,
    fractions: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "url",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Data mixing: per-stratum deterministic sampling rates in ONE
    ``CASE WHEN`` predicate (e.g. down-sample dominant languages,
    keep 100% of rare ones).  Strata absent from ``fractions`` get
    ``default_fraction``."""
    h = F.substring(F.md5(F.col(key_col).cast("string")), 1, 8)
    thr = F.lit(hash_threshold(default_fraction))
    for stratum, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(stratum_col) == stratum, F.lit(hash_threshold(frac))
        ).otherwise(thr)
    return df.filter(h < thr)


def chunk_documents(
    df: DataFrame,
    chunk_words: int = 128,
    overlap_words: int = 0,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Split each document into word windows of ``chunk_words`` with
    ``overlap_words`` carried between consecutive chunks — the
    sequence-preparation step before tokenization/packing.

    Pure Catalyst: split -> sequence over chunk starts -> slice ->
    posexplode.  Output: id columns + (chunk_id, chunk_text,
    chunk_n_words).  Documents shorter than one window yield one
    chunk; empty/whitespace docs yield none."""
    if not 0 <= overlap_words < chunk_words:
        raise ValueError(
            f"need 0 <= overlap ({overlap_words}) < chunk ({chunk_words})"
        )
    step = chunk_words - overlap_words
    # the word array is a column, referenced below as an attribute,
    # so the text is not split again per CASE branch, per window or
    # per output row
    words = df.select(
        *[F.col(c) for c in id_cols],
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
            lambda t: t != "",
        ).alias("__w"),
    )
    w = F.col("__w")
    n = F.size(w)
    # chunk starts: 0, step, 2*step, ... while start < n (last window
    # may be short but never empty, and never CONTAINED in the previous
    # one because starts advance by step > overlap).  sequence(0, -1)
    # counts DOWN in Spark, so the empty-doc case must short-circuit
    # to an empty array, not rely on an empty sequence
    starts = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), F.floor((n - 1) / F.lit(step)).cast("int"))
    )
    windows = F.transform(
        starts, lambda i: F.slice(w, i * step + 1, F.lit(chunk_words))
    )
    out = words.select(
        *id_cols, F.posexplode(windows).alias("chunk_id", "__slice")
    )
    # each window is sliced once; text and word count both read it
    return out.select(
        *id_cols,
        "chunk_id",
        F.concat_ws(" ", F.col("__slice")).alias("chunk_text"),
        F.size("__slice").alias("chunk_n_words"),
    )


def term_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """(term, tf, df) over the corpus: total occurrences and document
    frequency per whitespace token.  One explode feeding ONE
    aggregation — ``tf`` is a plain count and ``df`` counts distinct
    docs via a two-level (term, doc) pre-aggregation, both map-side
    combinable; only (term, counts) rows shuffle.  ``id_col`` keys the
    document identity (a real column, so the statistic is
    deterministic and engine-portable)."""
    tok = F.explode(
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
            lambda t: t != "",
        )
    ).alias("term")
    base = df.select(F.col(id_col).alias("__doc"), tok)
    if lowercase:
        base = base.select("__doc", F.lower(F.col("term")).alias("term"))
    # (term, doc) level first: collapses per-doc repeats map-side, so
    # the distinct-doc count never needs count(DISTINCT) state
    per_doc = base.groupBy("term", "__doc").agg(
        F.count(F.lit(1)).alias("__tf")
    )
    return per_doc.groupBy("term").agg(
        F.sum("__tf").alias("tf"), F.count(F.lit(1)).alias("df")
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    n_docs: int | None = None,
) -> DataFrame:
    """Corpus-level top-``k`` terms by tf * ln(N/df) — the quick
    signal for boilerplate/topic skew in a crawl.  When ``n_docs`` is
    not given, the corpus count rides along as a broadcast one-row
    cross join instead of a separate ``df.count()`` job (r6): one job
    total, and the count subtree scans zero columns.
    TakeOrderedAndProject top-k; ties broken by term for
    determinism."""
    stats = term_stats(df, text_col, id_col)
    if n_docs is None:
        cnt = df.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
        stats = stats.crossJoin(F.broadcast(cnt))
        score = F.col("tf") * F.log(F.col("__n_docs") / F.col("df"))
    else:
        score = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    return (
        stats.filter(F.col("df") >= min_df)
        .select("term", "tf", "df", F.round(score, 6).alias("tfidf"))
        .orderBy(F.col("tfidf").desc(), F.col("term"))
        .limit(k)
    )


def pack_chunks(
    chunks: DataFrame,
    budget_words: int = 512,
    words_col: str = "chunk_n_words",
    id_cols: tuple[str, ...] = ("doc_id", "chunk_id"),
    n_buckets: int = 64,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Greedy sequence packing: group chunks into training sequences
    whose word totals stay within ``budget_words`` — the
    context-window packing step between chunking and tokenization.

    Global bin packing is inherently sequential, so the parallel
    decomposition is: hash-partition chunks into ``n_buckets``
    deterministic buckets (keyed on the id columns), then run the
    greedy next-fit pass INSIDE each bucket over a deterministic
    (id_cols) order via ``applyInPandas`` — packing quality is local
    to a bucket, parallelism is across buckets, and the output is
    identical under any cluster partitioning because both the bucket
    assignment and the in-bucket order are pure functions of the data.
    Oversized single chunks (> budget) get a sequence of their own.

    Output: id columns + ``carry_cols`` + (pack_bucket, seq_id,
    seq_n_words), where seq_id numbers sequences within a bucket.
    ``carry_cols`` (say the chunk text) ride through the pass unchanged,
    so a caller that needs whole chunk rows does not join the packing
    back onto ``chunks``: that join reads, and so computes, ``chunks``
    a second time."""
    import pandas as pd

    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in id_cols])
    bucketed = chunks.withColumn(
        "pack_bucket", F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
    )
    # id and carried columns keep their INPUT types — any arity, any dtype
    in_types = dict(chunks.dtypes)
    out_fields = ", ".join(
        [f"{c} {in_types[c]}" for c in (*id_cols, *carry_cols)]
        + ["pack_bucket int", "seq_id int", "seq_n_words int"]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(list(id_cols), kind="mergesort")
        seq_ids, totals = [], []
        acc = 0
        for n in map(int, pdf[words_col].tolist()):
            if acc > 0 and acc + n > budget_words:
                totals.append(acc)
                acc = 0
            acc += n
            seq_ids.append(len(totals))
        totals.append(acc)
        # seq_n_words = final total of the sequence each row landed in
        return pdf[[*id_cols, *carry_cols, "pack_bucket"]].assign(
            seq_id=seq_ids, seq_n_words=[totals[s] for s in seq_ids]
        )

    cols = [*id_cols, *carry_cols, "pack_bucket"]
    cols += [words_col] if words_col not in cols else []
    return bucketed.select(*cols).groupBy("pack_bucket").applyInPandas(
        pack, schema=out_fields
    )
