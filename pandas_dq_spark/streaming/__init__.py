"""Structured Streaming wrappers (SURVEY.md §1.4/§2.9).

The reference is batch-only and the north rule is batch-resumable, so
streaming is a thin adapter.  ``quality_filter_foreach_batch`` runs
the batch ``quality_filter`` inside ``foreachBatch``;
``streaming_quality_filter`` applies the batch pipeline's own scores
and verdict builders (``webtext.pipeline._with_scores`` /
``_with_verdict``) directly to a streaming DataFrame — they are
stateless projections, so they stream as-is.  Only the exact-dedup
mark, which needs a global shuffle, is replaced by
``dropDuplicatesWithinWatermark``; ``is_dup`` is always False there.

Output-schema changelog (ADVICE r03): round 3 widened the per-doc UDF
struct, so ``streaming_quality_filter`` output gained four columns —
``n_chars``, ``symbol_ratio``, ``repeated_line_frac``,
``ellipsis_line_frac``.  A streaming query restarted against a sink/
checkpoint written under the pre-r3 schema DIVERGES on the mismatch
(proven by tests/test_streaming.py::
test_streaming_restart_fresh_vs_stale_sink): the file sink accepts
the widened rows, leaving a mixed-schema sink where plain reads
resolve only one schema and pre-upgrade rows lack the new columns
even under ``mergeSchema``.  Restart into a FRESH sink (or one with
real schema evolution, e.g. Iceberg) after upgrading.  The same holds
for the second widening: once the verdict builder was shared with the
batch pipeline, ``streaming_quality_filter`` output gained
``dq_issue``, ``pii_hits`` and ``bucket``, so it carries the columns
of ``quality_filter(..., check_extraction=False)``.  Note also that
the stateful dedup's checkpointed WATERMARK carries across restarts:
a resumed query drops newly-arrived batches whose event times fall
behind it, independent of any schema change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..webtext.heuristics import QualityConfig
from ..webtext.pipeline import _drop_reserved, _with_scores, _with_verdict


def streaming_quality_filter(
    stream_df: DataFrame,
    cfg: QualityConfig | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "warc_ts",
    dedup: bool = True,
) -> DataFrame:
    """The batch pipeline's scores and verdict applied to a streaming
    DataFrame — the same columns as ``quality_filter(...,
    check_extraction=False)``.  Exact dedup becomes watermark-scoped
    dedup on the text hash (the streaming-legal analogue of the batch
    global dedup).  ``dedup=
    False`` keeps every row (``is_dup`` stays False) — used when the
    consumer chains its own stateful operator (e.g. the windowed
    metrics aggregation) and wants a single stateful stage.

    Score/verdict field names are reserved (see
    ``webtext.pipeline.RESERVED_OUTPUT_COLS``): colliding input columns
    are dropped at entry, same as the batch pipeline."""
    cfg = cfg or QualityConfig()
    out = _drop_reserved(stream_df).withWatermark(ts_col, watermark)
    out = _with_scores(out, cfg)
    if dedup:
        out = out.withColumn(
            "__text_hash", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256)
        )
        out = out.dropDuplicatesWithinWatermark(["__text_hash"]).drop(
            "__text_hash"
        )
    return _with_verdict(out.withColumn("is_dup", F.lit(False)), cfg)


def streaming_metrics_windowed(
    stream_df: DataFrame,
    cfg: QualityConfig | None = None,
    ts_col: str = "warc_ts",
    window_dur: str = "7 days",
    watermark: str = "14 days",
) -> DataFrame:
    """Streaming analogue of the batch metrics sidecar
    (webtext.pipeline.metrics_sidecar): per EVENT-TIME window per
    bucket, doc/keep/char counts, with the watermark bounding late-data
    state — rows later than ``watermark`` behind the max seen event
    time are dropped and their window finalizes (append-mode emits).

    One stateful operator (the window agg); the quality stages run with
    ``dedup=False`` so this query holds only |windows x buckets| state
    rows — at 10^12 docs the state store carries thousands of rows, not
    documents."""
    cfg = cfg or QualityConfig()
    scored = streaming_quality_filter(
        stream_df, cfg, watermark=watermark, ts_col=ts_col, dedup=False
    )
    return (
        scored.groupBy(F.window(F.col(ts_col), window_dur).alias("w"), "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "bucket",
            "n_docs",
            "n_kept",
            "total_chars",
        )
    )


def streaming_host_running_counts(
    stream_df: DataFrame,
    ts_col: str = "warc_ts",
    url_col: str = "url",
    watermark: str = "10 minutes",
):
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``
    (the harness for semantics Spark's built-ins can't express): a
    running per-host document counter that persists across
    micro-batches in keyed group state.

    State is one long per host — at 10^12 docs the state store holds
    |hosts| rows, not |docs|; the host key shuffle is the only wide
    operation, and skewed hosts are bounded because the state update
    is O(batch rows) per key, not O(history)."""
    import pandas as pd  # noqa: F811 - executor-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    host = F.parse_url(F.col(url_col), F.lit("HOST")).alias("host")
    base = stream_df.withWatermark(ts_col, watermark).select(host)

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"host": [key[0]], "n_docs": [n]})

    return base.groupBy("host").applyInPandasWithState(
        update,
        outputStructType="host string, n_docs long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def quality_filter_foreach_batch(cfg: QualityConfig | None = None):
    """``writeStream.foreachBatch`` adapter reusing the full BATCH
    pipeline (including the exact global dedup within each micro-batch)."""
    from ..webtext.pipeline import quality_filter

    def fn(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return quality_filter(batch_df, cfg, check_extraction=False)

    return fn
