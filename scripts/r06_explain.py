#!/usr/bin/env python
"""Dump .explain("formatted") for the bench-timed queries into
plans/r06/<query>_<tag>.txt (tag = before/after, argv[1]).

Separate from the frozen bench.py per the optimization-round contract.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

TIMED = [
    "q1_pricing_summary",
    "q3_segment_revenue",
    "q5_nation_revenue",
    "a10_outlier_counts",
    "a12_correlation",
    "a17_ks_statistic",
    "t_token_counts",
    "w_quality_rule_counts",
    "s_cosine_topk",
    "m_minhash_near_dups",
    "m_simhash_near_dups",
    "c_tfidf_top",
]


def main() -> None:
    import __spark_entry__ as entrymod
    from pandas_dq_spark.session import get_spark

    spark = get_spark(
        app_name="r06_explain",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "5000"},
    )
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    qs = entrymod.queries()
    names = [n for n in TIMED if ONLY is None or n in ONLY]
    for name in names:
        spark.sparkContext.setJobDescription(f"explain:{name}")
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{TAG}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {name}_{TAG}.txt")

    # flagship pipeline plan (wt_quality_filter / wt_quality_filter_2m
    # share this plan shape; bench.py times it via quality_filter)
    if ONLY is None or "wt_quality_filter" in ONLY:
        import pyspark.sql.functions as F

        from pandas_dq_spark.webtext.heuristics import QualityConfig
        from pandas_dq_spark.webtext.pipeline import quality_filter

        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        pages = docs.select(
            F.concat(F.lit("doc://"), F.lpad(F.col("doc_id").cast("string"), 9, "0")).alias("url"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
            F.col("text"),
            F.col("lang"),
        )
        out = quality_filter(pages, QualityConfig(min_words=20), check_extraction=False)
        agg = out.select(
            F.sum(F.length("scrubbed_text")), F.sum(F.size("issues")), F.sum(F.col("keep").cast("long"))
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            agg.explain("formatted")
        with open(os.path.join(out_dir, f"wt_quality_filter_{TAG}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote wt_quality_filter_{TAG}.txt")


if __name__ == "__main__":
    main()
