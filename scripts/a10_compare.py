#!/usr/bin/env python
"""Settle the a10 measurement conflict (VERDICT r03 item 3): time the
two exact-quantile physical strategies for a10_outlier_counts
INTERLEAVED in one session, so host-contention waves (this VM's
documented 2-3x swings) hit both variants equally.

Variant A (bucketed): quantiles_bucketed — per-value counts shuffled
by value range, order statistics located inside one small bucket; two
eager jobs, fences baked in as literals.
Variant B (subquery): exact F.percentile as a broadcast one-row
subquery crossJoined under the outlier aggregate; one lazy plan, but
the column's full value multiset funnels to a single reducer.

Prints one JSON line with best/median/spread per variant.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from pandas_dq_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
ROUNDS = int(os.environ.get("A10_ROUNDS", "7"))


def main() -> None:
    spark = get_spark(
        app_name="a10_compare",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
    )
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    c = F.col("l_extendedprice")

    def run_bucketed() -> tuple:
        from pandas_dq_spark.plans.profile import quantiles_bucketed

        q1, q3 = quantiles_bucketed(li, "l_extendedprice", [0.25, 0.75])
        lb, ub = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        row = li.agg(
            F.sum(((c < F.lit(lb)) | (c > F.lit(ub))).cast("long")).alias("n"),
        ).collect()[0]
        return row["n"], round(q1, 6), round(q3, 6)

    def run_subquery() -> tuple:
        qdf = li.agg(
            F.percentile(c, F.array(F.lit(0.25), F.lit(0.75))).alias("q")
        )
        j = li.crossJoin(F.broadcast(qdf)).select(
            c.alias("v"),
            F.col("q")[0].alias("q1"),
            F.col("q")[1].alias("q3"),
        )
        lb = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
        ub = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
        row = (
            j.agg(
                F.sum(
                    ((F.col("v") < lb) | (F.col("v") > ub)).cast("long")
                ).alias("n"),
                F.round(F.first("q1"), 6).alias("q1"),
                F.round(F.first("q3"), 6).alias("q3"),
            )
        ).collect()[0]
        return row["n"], row["q1"], row["q3"]

    # warm-up both code paths (codegen, shuffle service, parquet footer)
    ra = run_bucketed()
    rb = run_subquery()
    assert ra == rb, f"variants disagree: {ra} vs {rb}"

    times: dict[str, list[float]] = {"bucketed": [], "subquery": []}
    for _ in range(ROUNDS):
        for name, fn in (("bucketed", run_bucketed), ("subquery", run_subquery)):
            t0 = time.perf_counter()
            fn()
            times[name].append(time.perf_counter() - t0)

    out = {"sf_dir": SF_DIR, "cpus": CPUS, "rounds": ROUNDS, "agree": list(ra)}
    for name, ts in times.items():
        out[name] = {
            "best": round(min(ts), 4),
            "median": round(statistics.median(ts), 4),
            "worst": round(max(ts), 4),
            "all": [round(t, 4) for t in ts],
        }
    out["best_ratio_subquery_over_bucketed"] = round(
        min(times["subquery"]) / min(times["bucketed"]), 3
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
