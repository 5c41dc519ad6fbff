#!/usr/bin/env python
"""Noop-sink isolation benchmarks (guide §1.4) — separate from the
FROZEN bench.py.  Times individual stages of the flagship pipeline and
the heavy queries so optimizations target the real cost.

Usage: python bench_extra.py [flagship|queries|all] [reps]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: the cores this process
may run on), SPARK_GRAFT_BENCH_REPLICAS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
MODE = sys.argv[1] if len(sys.argv) > 1 else "all"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timeit(spark, label, fn, reps=REPS):
    runs = []
    for _ in range(reps):
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    best = min(runs)
    print(f"{label:42s} best={best:7.3f}s spread={max(runs)-best:7.3f}s")
    return best


def flagship(spark):
    import pyspark.sql.functions as F

    from pandas_dq_spark.webtext.heuristics import QualityConfig, rule_exprs
    from pandas_dq_spark.webtext.pipeline import (
        duplicate_urls,
        mark_duplicates,
        quality_filter,
    )
    from pandas_dq_spark.webtext.scrub import pii_hit_count, scrub_col
    from pandas_dq_spark.webtext.udfs import TEXT_SCORES_FIELDS, make_text_scores_udf

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICAS", "400"))
    big = (
        docs.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        .select(
            F.concat(
                F.lit("doc://"),
                F.col("rep").cast("string"),
                F.lit("/"),
                F.lpad(F.col("doc_id").cast("string"), 9, "0"),
            ).alias("url"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
            F.concat(F.col("text"), F.lit(" rep"), F.col("rep").cast("string")).alias("text"),
            F.col("lang"),
        )
        .repartition(CPUS * 4)
        .persist()
    )
    n = big.count()
    print(f"flagship corpus: {n} docs")
    cfg = QualityConfig(min_words=20)

    timeit(spark, "scan only (noop)", lambda: noop(big))
    timeit(spark, "scan+sum(length(text))",
           lambda: big.select(F.sum(F.length("text"))).collect())

    # scores UDF alone
    udf = make_text_scores_udf(cfg.stopwords)
    def _scores():
        out = big.withColumn("__ts", udf(F.col("text")))
        out = out.select(*[F.col(f"__ts.{f}").alias(f) for f in TEXT_SCORES_FIELDS])
        noop(out)
    timeit(spark, "scores UDF pass (noop)", _scores)

    # dedup verdict alone (window plan)
    def _verdict():
        duplicate_urls(big, flood_safe=False).select(F.count("*")).collect()
    timeit(spark, "dedup verdict window (count)", _verdict)

    # flood probe cost
    from pandas_dq_spark.webtext.pipeline import FLOOD_SAFE_MIN_ROWS
    def _probe():
        big.select("url").limit(FLOOD_SAFE_MIN_ROWS).count()
    timeit(spark, "flood probe (limit count)", _probe)

    # scrub alone
    def _scrub():
        big.select(F.sum(F.length(scrub_col(F.col("text"))))).collect()
    timeit(spark, "scrub chain (sum length)", _scrub)

    # sha2 vs plain scan
    def _sha():
        big.select(F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("h")) \
           .select(F.sum(F.length("h"))).collect()
    timeit(spark, "sha2(text) (sum length)", _sha)

    # full pipeline (bench.py methodology)
    def _full():
        out = quality_filter(big, cfg, check_extraction=False)
        out.select(
            F.sum(F.length("scrubbed_text")), F.sum(F.size("issues")),
            F.sum(F.col("keep").cast("long")),
        ).collect()
    timeit(spark, "FULL pipeline (bench agg)", _full)

    big.unpersist()


def queries(spark):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = [
        "q1_pricing_summary", "q3_segment_revenue", "q5_nation_revenue",
        "a10_outlier_counts", "a12_correlation", "a17_ks_statistic",
        "t_token_counts", "w_quality_rule_counts", "s_cosine_topk",
        "m_minhash_near_dups", "m_simhash_near_dups", "c_tfidf_top",
        "d_embedding_near_dups", "j_ngram_jaccard", "c_components",
    ]
    for name in names:
        timeit(spark, name, lambda name=name: qs[name](spark, SF_DIR).collect())


def main() -> None:
    from pandas_dq_spark.session import get_spark

    spark = get_spark(
        app_name="bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "5000"},
    )
    # warm-up
    import __spark_entry__ as entrymod
    entrymod.queries()["a2_distinct_counts"](spark, SF_DIR).collect()
    if MODE in ("queries", "all"):
        queries(spark)
    if MODE in ("flagship", "all"):
        flagship(spark)


if __name__ == "__main__":
    main()
