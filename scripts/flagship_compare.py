#!/usr/bin/env python
"""Settle the r3->r4 flagship artifact conflict (VERDICT r04 item 2)
the way a10 was settled: run the ROUND-3-FINAL pipeline code and the
CURRENT pipeline code INTERLEAVED in one session on one persisted 2M
corpus, so host-contention waves (this VM's documented 2-3x swings)
hit both variants equally.

BENCH_r03 recorded wt_quality_filter_2m = 6.05 s while BENCH_r04
recorded 7.21 s, even though same-round instrumented runs said the
pipeline got faster; the wt_ queries had no noise bars then.  This
script loads the r3-final webtext package (git commit $R3_COMMIT,
default db1e1e0 = the tree BENCH_r03 ran on) via `git archive` under
an isolated package name (the package uses only relative imports, so
both versions coexist in one interpreter) and alternates timed runs,
swapping execution order each round.

Prints one JSON line with best/median/worst per variant.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark.sql.functions as F

from pandas_dq_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
ROUNDS = int(os.environ.get("FLAGSHIP_ROUNDS", "5"))
REPLICAS = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICAS", "400"))
# comma-separated list of commits to race against the working tree;
# default = the tree BENCH_r03 ran on
COMMITS = os.environ.get("FLAGSHIP_COMMITS", "db1e1e0").split(",")


def _load_commit_package(commit: str) -> tuple[str, str]:
    """Extract `pandas_dq_spark` at ``commit`` under an isolated
    package name; return (sys.path root, package name)."""
    pkg = "pdq_" + commit.replace("-", "_")
    root = tempfile.mkdtemp(prefix=f"{pkg}_")
    tar = subprocess.run(
        ["git", "archive", commit, "pandas_dq_spark"],
        cwd=REPO,
        check=True,
        capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", root], input=tar, check=True)
    os.rename(os.path.join(root, "pandas_dq_spark"), os.path.join(root, pkg))
    return root, pkg


def main() -> None:
    import importlib

    roots = []
    variants_src = {}
    for commit in COMMITS:
        root, pkg = _load_commit_package(commit)
        roots.append(root)
        sys.path.insert(0, root)
        variants_src[commit] = pkg
    # python WORKERS unpickle each variant's pandas UDF by module name,
    # so the isolated package roots must be on their PYTHONPATH too —
    # set it before the JVM (and its python workers) launch
    os.environ["PYTHONPATH"] = os.pathsep.join(
        roots + [os.environ.get("PYTHONPATH", "")]
    )
    try:
        from pandas_dq_spark.webtext.heuristics import QualityConfig
        from pandas_dq_spark.webtext.pipeline import quality_filter

        loaded = {
            commit: (
                importlib.import_module(f"{pkg}.webtext.pipeline").quality_filter,
                importlib.import_module(f"{pkg}.webtext.heuristics").QualityConfig,
            )
            for commit, pkg in variants_src.items()
        }

        spark = get_spark(
            app_name="flagship_compare",
            master=f"local[{CPUS}]",
            shuffle_partitions=max(CPUS, 8),
            extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "5000"},
        )
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        big = (
            docs.withColumn(
                "rep", F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1)))
            )
            .select(
                F.concat(
                    F.lit("doc://"),
                    F.col("rep").cast("string"),
                    F.lit("/"),
                    F.lpad(F.col("doc_id").cast("string"), 9, "0"),
                ).alias("url"),
                F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
                F.concat(
                    F.col("text"), F.lit(" rep"), F.col("rep").cast("string")
                ).alias("text"),
                F.col("lang"),
            )
            .repartition(CPUS * 4)
            .persist()
        )
        n_docs = big.count()

        def run(qf, cfg_cls) -> float:
            t0 = time.perf_counter()
            out = qf(big, cfg_cls(min_words=20), check_extraction=False)
            out.select(
                F.sum(F.length("scrubbed_text")),
                F.sum(F.size("issues")),
                F.sum(F.col("keep").cast("long")),
            ).collect()
            return time.perf_counter() - t0

        variants = {
            commit: (lambda qf=qf, cc=cc: run(qf, cc))
            for commit, (qf, cc) in loaded.items()
        }
        variants["current"] = lambda: run(quality_filter, QualityConfig)
        # warm both plans once (codegen/Arrow init) before timing
        for fn in variants.values():
            fn()
        times: dict[str, list[float]] = {k: [] for k in variants}
        order = list(variants)
        for i in range(ROUNDS):
            for name in order if i % 2 == 0 else order[::-1]:
                times[name].append(round(variants[name](), 4))
        summary = {
            name: {
                "best": min(ts),
                "median": round(statistics.median(ts), 4),
                "worst": max(ts),
                "runs": ts,
            }
            for name, ts in times.items()
        }
        print(
            json.dumps(
                {
                    "metric": "wt_quality_filter_2m_interleaved_sec",
                    "n_docs": n_docs,
                    "rounds": ROUNDS,
                    "commits": COMMITS,
                    "variants": summary,
                    "docs_per_sec_best": {
                        k: round(n_docs / v["best"], 2)
                        for k, v in summary.items()
                    },
                    "cpus": CPUS,
                }
            )
        )
    finally:
        for root in roots:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
