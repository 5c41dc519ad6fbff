"""End-to-end training-corpus preparation: the composition a user
runs AFTER crawling — canonicalize, quality-filter, strip boilerplate,
near-dedup, window, pack, mix — built entirely from this package's
oracle-tested stages.

Each stage is optional and independently tested; this module only
sequences them in the canonical order and threads the id/text columns
through, so the composition inherits every stage's scale properties
(narrow filters, broadcast joins, window-free aggregations,
deterministic hash decisions).

One materialisation point: the kept corpus (url, lang, text) is
``localCheckpoint``-ed right after the quality filter, eagerly.  Line
removal reads its input three times plus the join back, so without it
the scan, the Arrow scores UDF and the dedup window would run several
times per page.  Packing carries the chunk text and word count through
its pass instead of being joined back onto the chunks, so line removal
and chunking run once per call, not once per read of the chunk frame.  The checkpoint also cuts the lineage that the
near-dedup stage's label propagation would otherwise drag along.  Its
blocks are released by Spark's ContextCleaner once nothing references
the returned frame, so there is no unpersist to call.  The trade-off:
checkpoint blocks live only on the executors that computed them, so
losing an executor fails the downstream jobs instead of recomputing
the filter."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.corpus import (
    chunk_documents,
    deterministic_sample,
    pack_chunks,
    stratified_mix,
)
from .heuristics import QualityConfig
from .linededup import remove_repeated_lines
from .pipeline import quality_filter
from .urls import normalize_url


def prepare_training_corpus(
    df: DataFrame,
    cfg: QualityConfig | None = None,
    normalize_urls: bool = True,
    line_min_docs: int | None = None,
    near_dedup_threshold: float | None = None,
    chunk_words: int = 512,
    overlap_words: int = 32,
    pack_budget: int | None = None,
    sample_fraction: float | None = None,
    mix_fractions: dict[str, float] | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """pages(url, warc_ts, text, lang[, html]) -> training chunks.

    Stages, in order (each optional unless noted):

    1. URL canonicalization (``normalize_urls``) — so the dedup keys
       and bucket assignment see one url per page.
    2. quality filter + exact dedup (always) — keep only ``keep``.
    3. corpus-level boilerplate-line removal (``line_min_docs``).
    4. MinHash near-dedup with exact cluster resolution
       (``near_dedup_threshold``).
    5. word-window chunking (always; ``chunk_words``/``overlap_words``).
    6. sequence packing (``pack_budget``) — adds pack_bucket/seq_id/
       seq_n_words.
    7. deterministic sampling (``sample_fraction``) or per-language
       mixing (``mix_fractions``) on the url key.

    Returns one row per chunk: (url, lang, chunk_id, chunk_text,
    chunk_n_words[, pack columns]).  Per-stage row counts are reported
    via ``stats``."""
    cfg = cfg or QualityConfig()

    def note(key, frame):
        if stats is not None:
            stats[key] = frame.count()
        return frame

    if normalize_urls:
        df = df.withColumn("url", normalize_url(F.col("url")))
    scored = quality_filter(df, cfg, check_extraction=False)
    # the only scoring pass: every later read hits the checkpoint
    kept = note(
        "kept_docs",
        scored.filter("keep").select("url", "lang", "text").localCheckpoint(),
    )

    text_col = "text"
    if line_min_docs is not None:
        cleaned = remove_repeated_lines(
            kept, text_col="text", id_col="url", min_docs=line_min_docs
        )
        kept = kept.drop("text").join(cleaned, "url")
        text_col = "clean_text"

    if near_dedup_threshold is not None:
        from ..operators.dedup import near_dedup

        kept, _clusters = near_dedup(
            kept, "url", text_col, threshold=near_dedup_threshold
        )
        note("after_near_dedup", kept)

    if sample_fraction is not None:
        kept = deterministic_sample(kept, sample_fraction, "url")
    if mix_fractions is not None:
        kept = stratified_mix(
            kept, mix_fractions, stratum_col="lang", key_col="url"
        )
    if sample_fraction is not None or mix_fractions is not None:
        note("after_mix", kept)

    chunks = chunk_documents(
        kept,
        chunk_words=chunk_words,
        overlap_words=overlap_words,
        text_col=text_col,
        id_cols=("url", "lang"),
    )
    if pack_budget is not None:
        chunks = pack_chunks(
            chunks,
            budget_words=pack_budget,
            id_cols=("url", "lang", "chunk_id"),
            carry_cols=("chunk_text", "chunk_n_words"),
        ).select(*chunks.columns, "pack_bucket", "seq_id", "seq_n_words")
    return note("chunks", chunks)
