"""Structured Streaming adapters (streaming/__init__.py): the same
stage builders running on a streaming DataFrame."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from pandas_dq_spark.streaming import (
    quality_filter_foreach_batch,
    streaming_quality_filter,
)
from pandas_dq_spark.webtext.fixtures import PAGES_SCHEMA, pages_pdf
from pandas_dq_spark.webtext.heuristics import QualityConfig


def _write_pages(spark, tmp_path, n=300):
    pdf = pages_pdf(n)
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf, schema=PAGES_SCHEMA).coalesce(2).write.parquet(src)
    return src, pdf


def test_streaming_quality_filter(spark, tmp_path):
    src, pdf = _write_pages(spark, tmp_path)
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    cfg = QualityConfig(min_words=20)
    out = streaming_quality_filter(stream, cfg)
    q = (
        out.select("url", "keep", "lang_pred", "scrubbed_text")
        .writeStream.format("memory")
        .queryName("wt_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from wt_stream").collect()
    # watermark dedup keeps one row per distinct text
    assert len(rows) == pdf["text"].nunique()
    assert any(not r["keep"] for r in rows)
    assert any(r["keep"] for r in rows)


def test_streaming_output_matches_batch(spark, tmp_path):
    """The streaming adapter builds the batch verdict: with dedup=False
    it carries the columns of quality_filter(..., check_extraction=
    False), and every row the batch run does not mark as a duplicate
    is equal on every column."""
    from pandas_dq_spark.webtext.pipeline import quality_filter

    src, pdf = _write_pages(spark, tmp_path)
    cfg = QualityConfig(min_words=20)
    batch = quality_filter(
        spark.createDataFrame(pdf, schema=PAGES_SCHEMA), cfg, check_extraction=False
    )
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    out = streaming_quality_filter(stream, cfg, dedup=False)

    def typed(df):
        return {(f.name, f.dataType.simpleString()) for f in df.schema.fields}

    assert typed(out) == typed(batch)
    cols = batch.columns
    q = (
        out.select(*cols)
        .writeStream.format("memory")
        .queryName("wt_contract")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_contract"))
        .start()
    )
    q.awaitTermination(120)
    got = {r["url"]: r for r in spark.sql("select * from wt_contract").collect()}
    exp = batch.filter(~F.col("is_dup")).select(*cols).collect()
    assert len(got) == len(pdf) and 0 < len(exp) < len(pdf)
    for r in exp:
        assert got[r["url"]] == r, r["url"]


def test_stateful_host_counts(spark, tmp_path):
    # applyInPandasWithState: running per-host counts must accumulate
    # across micro-batches (maxFilesPerTrigger=1 forces >=2 batches)
    from pandas_dq_spark.streaming import streaming_host_running_counts

    src, pdf = _write_pages(spark, tmp_path, n=240)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_host_running_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("host_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select host, max(n_docs) as n from host_counts group by host"
    ).collect()
    got = {r["host"]: r["n"] for r in rows}
    exp = (
        pdf["url"]
        .map(lambda u: u.split("/")[2])
        .value_counts()
        .to_dict()
    )
    assert got == exp


def test_streaming_metrics_windowed(spark, tmp_path):
    # watermark + event-time windowed agg (late-data pattern): totals
    # must reconcile with the batch stateless pipeline per window
    from pandas_dq_spark.streaming import streaming_metrics_windowed
    from pandas_dq_spark.webtext.pipeline import quality_filter

    src, pdf = _write_pages(spark, tmp_path, n=300)
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    cfg = QualityConfig(min_words=20, n_buckets=8)
    out = streaming_metrics_windowed(stream, cfg, window_dur="30 days")
    q = (
        out.writeStream.format("memory")
        .queryName("wt_windows")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_win"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from wt_windows").collect()
    assert sum(r["n_docs"] for r in rows) == 300
    for r in rows:
        assert r["window_end"] > r["window_start"]
        assert 0 <= r["n_kept"] <= r["n_docs"]
        assert 0 <= r["bucket"] < 8
    # keep totals == batch pipeline ignoring the dedup rule (the
    # windowed path runs dedup=False, so is_dup never fires)
    batch = quality_filter(
        spark.createDataFrame(pdf, schema=PAGES_SCHEMA),
        cfg,
        check_extraction=False,
    )
    non_dup_keep = batch.where(
        F.size(F.filter(F.col("issues"), lambda x: x["check"] != "exact_duplicate"))
        == 0
    ).count()
    assert sum(r["n_kept"] for r in rows) == non_dup_keep


def test_foreach_batch_adapter(spark, tmp_path):
    src, pdf = _write_pages(spark, tmp_path, n=200)
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    fn = quality_filter_foreach_batch(QualityConfig(min_words=20))
    sink = str(tmp_path / "out")

    def write_batch(batch_df, batch_id):
        fn(batch_df, batch_id).select(
            "url", "keep", "dq_issue", "bucket"
        ).write.mode("append").parquet(sink)

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    assert got.count() == 200
    assert got.filter("keep").count() > 0


def test_streaming_restart_fresh_vs_stale_sink(spark, tmp_path):
    """r5 (VERDICT r04 item 7): prove the documented restart behavior
    when the output schema widens across an upgrade (the r3 UDF-struct
    widening).  Stale-sink restart: the file sink accepts the widened
    rows, leaving a MIXED-schema sink — plain reads resolve only one
    schema and old rows lack the new columns under mergeSchema (the
    'diverge' arm of the docstring).  Fresh-sink restart: every row
    carries the full schema."""
    src = str(tmp_path / "src")
    pdf = pages_pdf(120)
    spark.createDataFrame(pdf.iloc[:60], schema=PAGES_SCHEMA).coalesce(1).write.parquet(src)

    cfg = QualityConfig(min_words=20)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt_restart")

    def run(cols):
        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
        q = (
            streaming_quality_filter(stream, cfg, dedup=False)
            .select(*cols)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # v1 of the pipeline: narrow output schema (pre-widening)
    run(["url", "keep"])
    n_v1 = spark.read.parquet(sink).count()
    assert n_v1 > 0

    # upgrade: new source data arrives, pipeline output gains a column
    spark.createDataFrame(pdf.iloc[60:], schema=PAGES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run(["url", "keep", "n_chars"])

    # stale-sink divergence: only the post-upgrade rows carry n_chars
    merged = spark.read.option("mergeSchema", "true").parquet(sink)
    assert "n_chars" in merged.columns
    n_all = merged.count()
    assert n_all > n_v1  # checkpoint resumed: only NEW files processed
    assert merged.filter(F.col("n_chars").isNull()).count() == n_v1
    assert merged.filter(F.col("n_chars").isNotNull()).count() == n_all - n_v1

    # fresh-sink restart (the documented remedy): full schema everywhere
    sink2, ckpt2 = str(tmp_path / "sink2"), str(tmp_path / "ckpt2")
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    q = (
        streaming_quality_filter(stream, cfg, dedup=False)
        .select("url", "keep", "n_chars")
        .writeStream.format("parquet")
        .option("path", sink2)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    fresh = spark.read.parquet(sink2)
    assert fresh.count() == n_all
    assert fresh.filter(F.col("n_chars").isNull()).count() == 0


def test_streaming_drops_reserved_input_columns(spark, tmp_path, capsys):
    """ADVICE r04 parity for the streaming surface: colliding input
    columns are dropped at entry, not duplicated."""
    src, _ = _write_pages(spark, tmp_path, n=60)
    schema = PAGES_SCHEMA + ", n_chars int, keep boolean"
    # source parquet lacks the extra columns; rewrite with them
    pre = spark.read.schema(PAGES_SCHEMA).parquet(src)
    src2 = str(tmp_path / "src2")
    pre.withColumn("n_chars", F.lit(-1)).withColumn(
        "keep", F.lit(False)
    ).write.parquet(src2)
    stream = spark.readStream.schema(schema).parquet(src2)
    out = streaming_quality_filter(stream, QualityConfig(min_words=20))
    assert "collide with pipeline output names" in capsys.readouterr().out
    assert len(out.columns) == len(set(out.columns))
    q = (
        out.select("url", "keep", "n_chars")
        .writeStream.format("memory")
        .queryName("wt_reserved")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_res"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from wt_reserved").collect()
    assert rows and all(r["n_chars"] > 0 for r in rows)  # computed, not -1
