"""The north-rule pipeline: language-ID + quality filter + PII scrub
over Common-Crawl-style pages (BASELINE.json north_rule).

Stage order (mirrors pandas_dq's check->fix lifecycle, SURVEY.md §3):

  extract(html) -> scores (one Arrow UDF pass: langid, ppl, stats)
  -> exact dedup mark (one shuffle on sha2(text)) -> rules -> issues
  + keep -> scrub -> bucket partitioning -> write + sidecar + manifest

The scores pass and the verdict columns (issues .. bucket) are built
by :func:`_with_scores` and :func:`_with_verdict`, which the streaming
adapter shares.

Scale design notes (100 TB / 10^12 docs):
- The only wide operation is the dedup shuffle, and it shuffles ONLY
  (hash, url) — 40 bytes/row — never the text.  The duplicate verdict
  joins back on url (AQE picks a sort-merge join co-partitioned with
  the main table's url-hash bucketing; at 10^12 rows this is the
  textbook two-pass dedup).
- Everything else is a narrow map: rules/scrub are one fused
  projection inside whole-stage codegen; the scores are one Arrow pass
  per partition.
- Output is hash-bucketed by url (``pmod(xxhash64(url), n_buckets)``)
  — deterministic placement enables per-bucket checkpoint/resume and
  dynamic partition-overwrite idempotency.
- Skewed hosts don't skew buckets (url-hash, not host), but per-HOST
  sidecar metrics would; the sidecar therefore aggregates per-host
  counts with a salted two-phase aggregation (see metrics_sidecar).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .heuristics import QualityConfig, rule_exprs
from .scrub import pii_hit_count, scrub_col
from .udfs import TEXT_SCORES_FIELDS, make_text_scores_udf

ISSUE_TYPE = "array<struct<check:string,severity:string,detail:string>>"

# Output columns the pipeline computes.  Input columns with these names
# are DROPPED at entry (ADVICE r04: the fused selects would otherwise
# produce duplicate column names and an ambiguous-reference
# AnalysisException downstream).  ``bucket`` is deliberately NOT here —
# a pre-bucketed input's partition column is kept as-is.
RESERVED_OUTPUT_COLS = frozenset(
    (*TEXT_SCORES_FIELDS, "issues", "dq_issue", "keep", "scrubbed_text",
     "pii_hits", "is_dup", "extracted_text", "extract_ok")
)


def _drop_reserved(df: DataFrame) -> DataFrame:
    collide = [c for c in df.columns if c in RESERVED_OUTPUT_COLS]
    if collide:
        print(
            "Alert: input columns "
            + ", ".join(sorted(collide))
            + " collide with pipeline output names and were dropped"
        )
        df = df.drop(*collide)
    return df


def with_extracted(df: DataFrame, html: str = "html") -> DataFrame:
    """Byte-identical text extraction from the html wrapper
    (FIXTURES.md: ``<html><body>`` + text + ``</body></html>``).

    Real-world extraction (trafilatura etc.) is substituted by this
    deterministic inverse so the per-row invariant 'byte-identical
    extracted text per url' is testable (BASELINE.json input_hint)."""
    extracted = F.expr(
        f"substring(decode({html}, 'UTF-8'), 13, "
        f"length(decode({html}, 'UTF-8')) - 26)"
    )
    return df.withColumn("extracted_text", extracted)


# A duplicate-text GROUP bigger than the total row count cannot exist,
# so below this bound the single-pass window verdict is safe by
# construction: its worst case is one external-sorted window partition
# of FLOOD_SAFE_MIN_ROWS slim rows (~2 GB spill sort, minutes), while
# at 10^12 rows a viral page can have billions of copies and the
# single sorting task would run for days — there the two-pass
# groupBy(min) plan is mandatory.
FLOOD_SAFE_MIN_ROWS = 20_000_000


def duplicate_urls(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    flood_safe: bool | None = None,
) -> DataFrame:
    """The global dedup verdict: urls that are NOT the survivor of
    their sha2(text) group (survivor = lexicographically smallest url,
    deterministic under any parallelism — SURVEY.md §7.3 hard-part 5).

    Only (hash, url) — ~50 bytes/row — is shuffled; the text never
    moves.  The result is tiny for realistic dup rates.  Batch runners
    persist this once and reuse it across bucket batches (the verdict
    must see ALL buckets — a survivor may live in another bucket).

    Two physical strategies, chosen by ``flood_safe`` (r5, settled by
    the interleaved measurements in scripts/flagship_compare.py and
    BASELINE.md §flagship):

    - ``False``: single-pass ``row_number() over (partition by
      hash)`` — one slim shuffle + per-partition sort; measured
      ~2x faster end-to-end than any two-pass variant tried
      (groupBy+join with a count>1-pruned build side, salted
      two-level windows, persisted slim, int64-prefilter), BUT every
      copy of one viral page lands in a single sorting task.
    - ``True``: ``groupBy(min, count)`` — map-side partial
      aggregation collapses an identical-doc flood to one row per
      task BEFORE the shuffle — then membership for the
      ``count > 1`` groups only via an AQE-splittable join (the build
      side holds just the duplicated hashes, so it broadcasts at
      realistic dup rates).  Costs a second scan + hash pass of the
      probe side.
    - ``None`` (default): bounded row probe — corpora under
      :data:`FLOOD_SAFE_MIN_ROWS` cannot contain a task-breaking
      flood (a dup group is bounded by the corpus), so they take the
      fast window plan; anything bigger pays for flood safety."""
    # unhex: group on the 32 raw digest bytes, not the 64-char hex
    # string — same grouping (hex is injective), half the shuffle
    # bytes and cheaper key comparisons (r6, guide §2.3)
    h = F.unhex(F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256))
    slim = df.select(F.col(url_col).alias("__u"), h.alias("__h"))
    if flood_safe is None:
        # zero-column probe (r6): counting a literal lets the scan
        # prune every column, so the bounded row probe reads no data —
        # just row counts — instead of decoding the url column
        flood_safe = (
            df.select(F.lit(1).alias("__one"))
            .limit(FLOOD_SAFE_MIN_ROWS)
            .count()
            >= FLOOD_SAFE_MIN_ROWS
        )
    if not flood_safe:
        from pyspark.sql import Window

        w = Window.partitionBy("__h").orderBy("__u")
        return (
            slim.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .select(F.col("__u").alias(url_col))
            .withColumn("__is_dup", F.lit(True))
        )
    dup_groups = (
        slim.groupBy("__h")
        .agg(F.min("__u").alias("__surv"), F.count("*").alias("__cnt"))
        .filter(F.col("__cnt") > 1)
        .drop("__cnt")
    )
    return (
        slim.join(dup_groups, "__h")
        .filter(F.col("__u") != F.col("__surv"))
        .select(F.col("__u").alias(url_col))
        .withColumn("__is_dup", F.lit(True))
    )


def mark_duplicates(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    broadcast_dups: bool = True,
    verdict: DataFrame | None = None,
    flood_safe: bool | None = None,
) -> DataFrame:
    """Join the dedup verdict back onto the main table.

    The verdict is reduced to just the DUPLICATE urls (non-survivors)
    and broadcast — so the wide main table is never shuffled.  With
    ``broadcast_dups=False`` (10^12-doc scale where even the dup set
    is huge) the join falls back to sort-merge; co-locate it with the
    output's url-hash bucketing.  Pass a precomputed (persisted)
    ``verdict`` to share one dedup shuffle across batch runs."""
    dup_urls = (
        verdict
        if verdict is not None
        else duplicate_urls(df, url_col, text_col, flood_safe=flood_safe)
    )
    if broadcast_dups:
        dup_urls = F.broadcast(dup_urls)
    return df.join(dup_urls, url_col, "left").withColumn(
        "is_dup", F.coalesce(F.col("__is_dup"), F.lit(False))
    ).drop("__is_dup")


def bucket_col(cfg: QualityConfig) -> Column:
    """The output partition id: ``pmod(xxhash64(url), n_buckets)`` —
    deterministic placement for per-bucket checkpoint/resume."""
    return F.pmod(F.xxhash64(F.col("url")), F.lit(cfg.n_buckets)).cast("int")


def _with_scores(df: DataFrame, cfg: QualityConfig, row_counter=None) -> DataFrame:
    """ONE Arrow pass: langid + perplexity + token/char/line stats —
    the text is read exactly once for every per-document statistic."""
    scores_udf = make_text_scores_udf(cfg.stopwords, row_counter=row_counter)
    out = df.withColumn("__ts", scores_udf(F.col("text")))
    # ONE select for all struct fields: a per-field withColumn chain
    # costs one full analysis pass per field (~35% of small-run wall
    # was driver-side plan construction, measured r4)
    return out.select(
        *[c for c in out.columns if c != "__ts"],
        *[F.col(f"__ts.{fld}").alias(fld) for fld in TEXT_SCORES_FIELDS],
    )


def _with_verdict(df: DataFrame, cfg: QualityConfig) -> DataFrame:
    """The per-document verdict over the scores and ``is_dup``:
    issues, dq_issue, keep, scrubbed_text, pii_hits and (unless the
    input already carries one) bucket.  Batch and streaming both build
    their output here."""
    issue_structs = [
        F.when(
            pred,
            F.struct(
                F.lit(name).alias("check"),
                F.lit("drop").alias("severity"),
                F.lit(detail).alias("detail"),
            ),
        )
        for name, pred, detail in rule_exprs(cfg)
    ]
    issues = F.filter(
        F.array(*issue_structs), lambda x: x.isNotNull()
    ).cast(ISSUE_TYPE)
    out = df.select("*", issues.alias("issues"))
    # dq_issue mirrors the reference's comma-joined DQ Issue string
    # (pandas_dq.py:308-310), "No issue" fill included (517);
    # keep + dq_issue fused into one analysis pass
    out = out.select(
        "*",
        F.when(F.size("issues") == 0, F.lit("No issue"))
        .otherwise(
            F.array_join(F.transform(F.col("issues"), lambda x: x["detail"]), ", ")
        )
        .alias("dq_issue"),
        (F.size("issues") == 0).alias("keep"),
    )
    out = out.withColumn("scrubbed_text", scrub_col(F.col("text")))
    # referencing scrubbed_text lets clean docs (text == scrubbed)
    # skip the per-rule rlike scans; subexpression elimination
    # shares the scrub chain between the two columns
    out = out.withColumn(
        "pii_hits", pii_hit_count(F.col("text"), F.col("scrubbed_text"))
    )
    if "bucket" not in out.columns:
        out = out.withColumn("bucket", bucket_col(cfg))
    return out


def quality_filter(
    df: DataFrame,
    cfg: QualityConfig | None = None,
    check_extraction: bool = True,
    dup_verdict: DataFrame | None = None,
    udf_row_counter=None,
    flood_safe: bool | None = None,
) -> DataFrame:
    """Full pipeline: returns the input columns plus stats, lang_pred/
    lang_score, ppl, is_dup, issues, dq_issue, keep, scrubbed_text,
    pii_hits, bucket.

    If ``df`` already carries a ``bucket`` column (run_pipeline adds it
    at scan time so per-batch bucket filters prune BEFORE the Arrow UDF
    and the dedup join) it is kept as-is; ``dup_verdict`` likewise lets
    a batch runner share one persisted dedup verdict.

    Score/verdict field names (:data:`RESERVED_OUTPUT_COLS`) are
    reserved: input columns with those names are dropped at entry, with
    an Alert print.  ``flood_safe`` forwards to
    :func:`duplicate_urls` (None = auto by row probe)."""
    cfg = cfg or QualityConfig()
    out = _drop_reserved(df)
    # single-row-group inputs would run the whole Arrow-UDF + rules +
    # scrub chain as ONE task (a row group is the minimum scan split);
    # spread first — a no-op whenever the input already has >= cores
    # partitions (any realistic large corpus, incl. the bucketed
    # batch-runner path whose inputs are many files)
    from ..session import ensure_min_parallelism

    out = ensure_min_parallelism(out)
    if check_extraction and "html" in df.columns:
        out = with_extracted(out)
        out = out.withColumn(
            "extract_ok", F.coalesce(F.col("extracted_text") == F.col("text"), F.lit(False))
        )
    out = _with_scores(out, cfg, udf_row_counter)
    out = mark_duplicates(out, verdict=dup_verdict, flood_safe=flood_safe)
    return _with_verdict(out, cfg)


def prepare_bucketed_input(
    df: DataFrame, path: str, cfg: QualityConfig | None = None
) -> str:
    """One-time input preparation for very large batched runs: write
    the raw pages PARTITIONED BY the url-hash bucket, so every
    subsequent :func:`run_pipeline` batch reads ONLY its buckets' files
    (partition pruning) instead of rescanning the full input.

    Worth it when the input will be processed in many batches (or
    re-run after failures): the one bucket-shuffle write here replaces
    a full input scan per batch.  The returned path is read with
    ``spark.read.parquet(path)`` and passed straight to run_pipeline
    (which keeps the existing ``bucket`` partition column)."""
    cfg = cfg or QualityConfig()
    out = df.withColumn("bucket", bucket_col(cfg))
    out.write.mode("overwrite").partitionBy("bucket").parquet(path)
    return path


# ---------------- sidecar + checkpoint/resume ------------------------


def metrics_sidecar(result: DataFrame, cfg: QualityConfig) -> DataFrame:
    """Per-partition(bucket) lineage + metrics table (north rule).

    One groupBy on the already-computed bucket id — map-side partial
    aggregation, tiny shuffle."""
    return result.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dups"),
        F.sum(F.col("pii_hits")).alias("n_pii_hits"),
        F.sum("n_chars").alias("total_chars"),
        F.avg("ppl").alias("avg_ppl"),
        F.min("warc_ts").alias("min_warc_ts"),
        F.max("warc_ts").alias("max_warc_ts"),
    )


def host_stats_salted(
    df: DataFrame,
    salt_buckets: int | None = None,
    host_profile: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Per-host doc counts with explicit salting for skewed hosts
    (north rule: 'partitioning / shuffle / skew handled explicitly').

    Two-phase: partial agg on (host, salt) — spreads a hot host over
    ``salt_buckets`` reducers — then final agg on host.  The salt is
    derived from url so it is deterministic.

    ``salt_buckets=None`` (r5, SURVEY §4.2) derives S from a
    host-FREQUENCY profile instead of a fixed constant, so a
    pathological single-host corpus spreads over enough reducers:
    ``S = ceil(max_host_rows / (total_rows / shuffle_partitions))``
    clamped to [1, shuffle_partitions] — i.e. just enough salt that the
    hottest host's partial-agg groups are no bigger than an average
    reducer's share.  The profile is a (host, n) count table: pass a
    precomputed/cached one via ``host_profile`` (batch runners that
    call this repeatedly should), else one map-side-combined counting
    pass runs here — per-host counts are themselves skew-safe because
    partial aggregation collapses a hot host to one row per task
    before the shuffle.  The chosen S is reported via
    ``stats['salt_buckets']``."""
    host = F.parse_url(F.col("url"), F.lit("HOST")).alias("host")
    if salt_buckets is None:
        import math

        par = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        if host_profile is None:
            host_profile = (
                df.select(host).groupBy("host").agg(F.count("*").alias("n"))
            )
        prof = host_profile.agg(
            F.max("n").alias("max_n"), F.sum("n").alias("tot")
        ).first()
        max_n, tot = int(prof["max_n"] or 0), int(prof["tot"] or 0)
        per_task = max(1.0, tot / par)
        salt_buckets = max(1, min(par, math.ceil(max_n / per_task)))
        if stats is not None:
            stats.update(
                {
                    "salt_buckets": salt_buckets,
                    "max_host_rows": max_n,
                    "total_rows": tot,
                }
            )
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets)).alias("salt")
    partial = (
        df.select(host, salt, F.col("keep").cast("long").alias("k"))
        .groupBy("host", "salt")
        .agg(F.count("*").alias("n"), F.sum("k").alias("kept"))
    )
    return partial.groupBy("host").agg(
        F.sum("n").alias("n_docs"), F.sum("kept").alias("n_kept")
    )


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def completed_buckets(out_dir: str) -> set[int]:
    mdir = _manifest_dir(out_dir)
    if not os.path.isdir(mdir):
        return set()
    done = set()
    for f in os.listdir(mdir):
        if f.startswith("bucket_") and f.endswith(".json"):
            with open(os.path.join(mdir, f)) as fh:
                done.add(int(json.load(fh)["bucket"]))
    return done


def run_pipeline(
    df: DataFrame,
    out_dir: str,
    cfg: QualityConfig | None = None,
    resume: bool = True,
    buckets_per_batch: int | None = None,
    max_batches: int | None = None,
    udf_row_counter=None,
) -> dict:
    """Resumable batch run: processes bucket groups, writes the main
    output partitioned by bucket (dynamic partition overwrite => a
    re-run of a bucket is idempotent), writes the metrics sidecar and
    a per-bucket JSON manifest entry AFTER the bucket's data commits.

    On restart with ``resume=True`` completed buckets are skipped.
    The input parquet is not partitioned by bucket, so each batch does
    rescan the input — but ``bucket`` is derived from url AT SCAN TIME
    here, so the per-batch filter is pushed below the Arrow UDF pass,
    the rules/scrub projections, and the dedup join: a batch pays the
    scan plus ITS OWN rows only.  The global dedup verdict (which must
    see all buckets) is computed once, persisted, and reused by every
    batch — one (hash,url) shuffle for the whole run.

    The expensive plan (Arrow UDF pass + rules + scrub) is evaluated
    exactly ONCE per batch, by the docs write.  The metrics sidecar is
    then aggregated from the JUST-COMMITTED parquet (filtered to the
    batch's buckets — partition-pruned), which both avoids a second
    Arrow pass over the batch (VERDICT r02 item 1) and verifies the
    committed bytes rather than the in-memory plan.  The tiny per-
    bucket aggregate rows are collected once and written back from the
    driver, so the sidecar costs one scan of the batch's output.

    If ``df`` ALREADY carries a ``bucket`` column — e.g. it was read
    from parquet written by :func:`prepare_bucketed_input` (partitioned
    by bucket) — it is kept as-is, and each batch's ``bucket IN (...)``
    filter becomes a PARTITION filter: a batch then reads only its own
    buckets' files instead of rescanning the whole input."""
    cfg = cfg or QualityConfig()
    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    if "bucket" not in df.columns:
        df = df.withColumn("bucket", bucket_col(cfg))

    done = completed_buckets(out_dir) if resume else set()
    all_buckets = list(range(cfg.n_buckets))
    todo = [b for b in all_buckets if b not in done]
    if not todo:
        # fully-resumed run: never touch the input (the dedup shuffle
        # alone would be hours at 10^12 docs)
        return {
            "processed_buckets": [],
            "skipped_buckets": sorted(done),
            "out_dir": out_dir,
        }
    verdict = duplicate_urls(df).persist()
    verdict.count()  # materialize: every batch reuses the cached verdict
    result = quality_filter(
        df, cfg, dup_verdict=verdict, udf_row_counter=udf_row_counter
    )
    os.makedirs(_manifest_dir(out_dir), exist_ok=True)
    main_path = os.path.join(out_dir, "docs")
    side_path = os.path.join(out_dir, "sidecar")

    batch = buckets_per_batch or len(todo) or 1
    processed = []
    n_batches = 0
    try:
        for i in range(0, len(todo), batch):
            if max_batches is not None and n_batches >= max_batches:
                break  # simulated kill / budget stop — manifest stays behind
            n_batches += 1
            group = todo[i : i + batch]
            part = result.filter(F.col("bucket").isin(group))
            part.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("bucket").parquet(main_path)
            # sidecar from the committed bytes, NOT from `part` (which
            # would re-run the Arrow UDF pass): partition-pruned read of
            # just this batch's buckets, one agg, collect the <=|group|
            # rows, write them back from the driver
            committed = spark.read.parquet(main_path).filter(
                F.col("bucket").isin(group)
            )
            side = metrics_sidecar(committed, cfg).withColumn(
                "run_group", F.lit(i // batch)
            )
            side_schema = side.schema
            rows = side.collect()
            spark.createDataFrame(rows, side_schema).coalesce(1).write.mode(
                "overwrite"
            ).option("partitionOverwriteMode", "dynamic").partitionBy(
                "bucket"
            ).parquet(side_path)
            side_rows = {r["bucket"]: r.asDict() for r in rows}
            for b in group:
                meta = side_rows.get(b, {"bucket": b, "n_docs": 0})
                meta["bucket"] = b
                with open(
                    os.path.join(_manifest_dir(out_dir), f"bucket_{b}.json"), "w"
                ) as fh:
                    json.dump({k: _js(v) for k, v in meta.items()}, fh)
            processed.extend(group)
    finally:
        # a failed batch write must not leave the verdict pinned in the
        # long-lived session's cache (ADVICE r02)
        verdict.unpersist()
    return {
        "processed_buckets": processed,
        "skipped_buckets": sorted(done),
        "out_dir": out_dir,
    }


def _js(v):
    try:
        json.dumps(v)
        return v
    except TypeError:
        return str(v)
