"""End-to-end training-corpus preparation (webtext/training.py)."""

from __future__ import annotations

import re

from pandas_dq_spark.webtext.fixtures import pages_df
from pandas_dq_spark.webtext.heuristics import QualityConfig
from pandas_dq_spark.webtext.training import prepare_training_corpus


def _nwords(t):
    return len([w for w in re.split(r"\s+", t, flags=re.ASCII) if w])


def test_prepare_training_corpus_e2e(spark):
    pages = pages_df(spark, 600)
    st = {}
    out = prepare_training_corpus(
        pages,
        QualityConfig(min_words=20),
        line_min_docs=50,
        chunk_words=64,
        overlap_words=8,
        pack_budget=192,
        stats=st,
    ).cache()
    rows = out.collect()

    assert st["kept_docs"] > 0
    assert st["chunks"] == len(rows) > 0
    assert set(out.columns) == {
        "url", "lang", "chunk_id", "chunk_text", "chunk_n_words",
        "pack_bucket", "seq_id", "seq_n_words",
    }
    for r in rows:
        assert 0 < r["chunk_n_words"] <= 64
        assert _nwords(r["chunk_text"]) == r["chunk_n_words"]
        # budget respected (chunks of <=64 words always fit 192)
        assert r["seq_n_words"] <= 192

    # every kept multi-word doc is represented by >= 1 chunk
    urls = {r["url"] for r in rows}
    assert len(urls) <= st["kept_docs"]
    assert len(urls) >= 0.9 * st["kept_docs"]  # only empty docs may drop
    out.unpersist()


def test_prepare_training_corpus_mixing_is_deterministic(spark):
    pages = pages_df(spark, 400)
    kwargs = dict(
        cfg=QualityConfig(min_words=20),
        chunk_words=64,
        overlap_words=0,
        mix_fractions={"en": 0.5, "de": 1.0},
    )
    a = prepare_training_corpus(pages, **kwargs)
    b = prepare_training_corpus(pages.repartition(7), **kwargs)
    ka = sorted((r["url"], r["chunk_id"]) for r in a.collect())
    kb = sorted((r["url"], r["chunk_id"]) for r in b.collect())
    assert ka == kb  # hash decisions are partitioning-independent
    assert len(ka) > 0


def test_prepare_training_corpus_near_dedup_drops_copies(spark):
    from pyspark.sql import functions as F

    pages = pages_df(spark, 200)
    # append exact+near copies under fresh urls that sort AFTER the
    # originals (quality_filter's exact dedup keys on text; the
    # near-dedup stage must drop jittered copies too)
    copies = pages.limit(30).select(
        F.concat(F.lit("zzz://"), F.col("url")).alias("url"),
        "warc_ts",
        F.concat(F.col("text"), F.lit(" extrawordatend")).alias("text"),
        "lang", "html",
    ).drop("html")
    base = pages.drop("html")
    st = {}
    out = prepare_training_corpus(
        base.unionByName(copies),
        QualityConfig(min_words=20),
        near_dedup_threshold=0.6,
        chunk_words=64,
        stats=st,
    )
    urls = {r["url"] for r in out.select("url").distinct().collect()}
    # jittered copies cluster with their originals and drop
    assert sum(1 for u in urls if u.startswith("zzz://")) <= 3
    assert st["after_near_dedup"] <= st["kept_docs"]


def test_prepare_training_corpus_scores_once(spark):
    # the kept corpus is checkpointed after the quality filter, so the
    # returned plan (line removal reads its input more than once) holds
    # no scores UDF to run again
    out = prepare_training_corpus(
        pages_df(spark, 200),
        QualityConfig(min_words=20),
        line_min_docs=20,
        chunk_words=64,
        overlap_words=8,
        pack_budget=192,
    )
    qe = out._jdf.queryExecution()
    for plan in (qe.optimizedPlan().toString(), qe.executedPlan().toString()):
        assert "ArrowEvalPython" not in plan, plan


def test_prepare_training_corpus_chunks_once(spark):
    # packing carries the chunk columns through instead of being joined
    # back onto the chunk frame, so the plan chunks each document once
    out = prepare_training_corpus(
        pages_df(spark, 200),
        QualityConfig(min_words=20),
        line_min_docs=20,
        chunk_words=64,
        overlap_words=8,
        pack_budget=192,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("posexplode(transform(") == 1, plan
