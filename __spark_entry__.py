"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship webtext quality-filter pipeline on
sf0.001.  ``queries()`` maps SURVEY.md §2 operator IDs (plus the
training-data ops) to callables; ``oracle_sql()`` holds the DuckDB
equivalents.  Keys missing from ``oracle_sql`` are non-SQL-expressible
(UDF-backed langid/perplexity, MinHash/SimHash LSH, multimodal
plumbing) and get the driver's rows-only check.

All float outputs are rounded identically on both sides so the
order-insensitive value hash is stable across engines.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# package lives next to this file — importable regardless of the
# driver's working directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STOPWORDS_5 = ["the", "of", "and", "to", "in"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------- entry
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the north-rule quality filter over the documents table
    adapted to the pages schema (url/warc_ts/html synthesized
    deterministically from doc_id)."""
    from pandas_dq_spark.webtext.heuristics import QualityConfig
    from pandas_dq_spark.webtext.pipeline import quality_filter

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.lpad(F.col("doc_id").cast("string"), 9, "0")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    cfg = QualityConfig(min_words=20, n_buckets=16)
    out = quality_filter(pages, cfg)
    return out.select(
        "url",
        "lang",
        "lang_pred",
        F.round("lang_score", 6).alias("lang_score"),
        F.round("ppl", 4).alias("ppl"),
        "n_words",
        "is_dup",
        "keep",
        "dq_issue",
        "bucket",
    )


# ------------------------------------------------------------- queries
# A small number of entries are EAGER at construction time — they run
# bounded Spark jobs while building the returned DataFrame and bake
# the results in as literals (ADVICE r03): a10_outlier_counts collects
# range-bucketed quantile fences (O(n_cols * n_buckets) driver rows),
# and the m_minhash/m_simhash entries materialize their dup-id tables
# (cache-lifecycle default path).  The returned DataFrame reflects the
# table as of construction; rebuild the query if the input changes.
EAGER_QUERIES = {
    "a10_outlier_counts",
    "a10_outlier_nan",
    "m_minhash_near_dups",
    "m_simhash_near_dups",
    "j_ngram_jaccard",
    # frequency denominators computed by a construction-time count
    "a7_value_counts",
    "a14_class_balance",
    # KS statistics are scalar VALUES — the whole job runs at build
    "a17_ks_statistic",
    "a17b_ks_many",
    # fused-profile collects at build
    "a19_id_zero_var",
    "dq_profile_lineitem",
    # the report/fit family is eager by design: these run the fused
    # profile/fit jobs and return a small driver-assembled findings
    # DataFrame (the reference's own shape — its reports are values,
    # not plans)
    "dq_report_orders",
    "dc_report_events",
    "fixdq_transform",
    "schema_checker_events",
    # r5: the exact-dedup verdict auto-selects its physical strategy
    # (window vs flood-safe groupBy+join) with a bounded limit-probe
    # job at plan-construction time
    "a5_dedup_survivors",
    "w_quality_rule_counts",
    "w_webtext_keep_stats",
    # r6: the idf denominator now rides along as a broadcast one-row
    # cross join — no job at build anymore, but the entry stays listed
    # for round-over-round comparability of this documentation set
    "c_tfidf_top",
    # r5: iterative label propagation runs its rounds at build
    "c_components",
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # ---- TPC-H-ish joins/aggregations -------------------------------
    def q1_pricing_summary(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("sum_disc_price"),
                F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                F.count("*").alias("count_order"),
            )
        )

    q["q1_pricing_summary"] = q1_pricing_summary

    def q3_segment_revenue(spark, sf):
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
                F.count_distinct("o_orderkey").alias("n_orders"),
            )
        )

    q["q3_segment_revenue"] = q3_segment_revenue

    def q5_nation_revenue(spark, sf):
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        n = _t(spark, sf, "nation")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue")
            )
        )

    q["q5_nation_revenue"] = q5_nation_revenue

    def q_top_customers(spark, sf):
        # top-k + rank, scale-safe (r4): the global row_number window
        # over ALL per-customer totals would funnel every aggregate row
        # into one task; orderBy().limit(k) plans as a distributed
        # TakeOrderedAndProject (per-partition top-k, merged on the
        # driver), and the ranking window then runs over exactly k rows
        o = _t(spark, sf, "orders")
        from pyspark.sql import Window

        totals = o.groupBy("o_custkey").agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spent")
        )
        order = [F.col("total_spent").desc(), F.col("o_custkey")]
        top = totals.orderBy(*order).limit(5)
        w = Window.orderBy(*order)  # over <= 5 rows only
        return top.withColumn("rnk", F.row_number().over(w)).select(
            "o_custkey", "total_spent", "rnk"
        )

    q["q_top_customers"] = q_top_customers

    # ---- profile operators (SURVEY.md §2.4) --------------------------
    def a1_missing_counts(spark, sf):
        ev = _t(spark, sf, "events")
        return ev.agg(
            F.sum((F.col("value").isNull() | F.isnan("value")).cast("long")).alias(
                "value_missing"
            ),
            F.sum(F.col("props").isNull().cast("long")).alias("props_missing"),
            F.count("*").alias("n_rows"),
        )

    q["a1_missing_counts"] = a1_missing_counts

    def a2_distinct_counts(spark, sf):
        o = _t(spark, sf, "orders")
        return o.agg(
            F.count_distinct("o_custkey").alias("d_custkey"),
            F.count_distinct("o_orderstatus").alias("d_status"),
            F.count_distinct("o_orderpriority").alias("d_priority"),
        )

    q["a2_distinct_counts"] = a2_distinct_counts

    def a3_minmax(spark, sf):
        li = _t(spark, sf, "lineitem")
        return li.agg(
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.min("l_linenumber").alias("min_ln"),
            F.max("l_linenumber").alias("max_ln"),
        )

    q["a3_minmax"] = a3_minmax

    def a4_dup_count(spark, sf):
        d = _t(spark, sf, "documents")
        return d.agg(
            (F.count("*") - F.count_distinct("text")).alias("dup_rows"),
            F.count("*").alias("n_rows"),
        )

    q["a4_dup_count"] = a4_dup_count

    def a5_dedup_survivors(spark, sf):
        d = _t(spark, sf, "documents")
        return d.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")

    q["a5_dedup_survivors"] = a5_dedup_survivors

    def a7_value_counts(spark, sf):
        o = _t(spark, sf, "orders")
        total = o.filter(F.col("o_orderpriority").isNotNull()).count()
        return (
            o.filter(F.col("o_orderpriority").isNotNull())
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("cnt"),
                F.round(F.count("*") / F.lit(total), 6).alias("freq"),
            )
        )

    q["a7_value_counts"] = a7_value_counts

    def a10_outlier_counts(spark, sf):
        # EXACT quantiles via the range-bucketed order-statistics plan
        # (plans/profile.quantiles_bucketed): per-value counts shuffle
        # by value range, the target order statistic is located inside
        # one small bucket — no single-reducer percentile state at any
        # scale (the alternative, F.percentile as a broadcast one-row
        # subquery, is one lazy plan but funnels the column's value
        # multiset to one reducer; measured ~17% slower at sf0.1 too).
        # Only the two quantile doubles cross the driver.
        from pandas_dq_spark.plans.profile import quantiles_bucketed

        li = _t(spark, sf, "lineitem")
        q1, q3 = quantiles_bucketed(li, "l_extendedprice", [0.25, 0.75])
        lb, ub = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        c = F.col("l_extendedprice")
        return li.agg(
            F.sum(((c < F.lit(lb)) | (c > F.lit(ub))).cast("long")).alias(
                "n_outliers"
            ),
            F.round(F.lit(q1), 6).alias("q1"),
            F.round(F.lit(q3), 6).alias("q3"),
        )

    q["a10_outlier_counts"] = a10_outlier_counts

    def a10_outlier_nan(spark, sf):
        # NaN-guarded outlier fences (ADVICE r01): NaNs are injected
        # deterministically so the guard is exercised regardless of the
        # fixture data; reference semantics = NaN is never an outlier
        from pandas_dq_spark.operators.dq_report import outlier_predicate
        from pandas_dq_spark.plans.profile import quantiles

        ev = _t(spark, sf, "events")
        d = ev.select(
            F.when(F.col("event_id") % 50 == 0, F.lit(float("nan")))
            .otherwise(F.col("value"))
            .alias("v")
        )
        qs = quantiles(d, ["v"], [0.25, 0.75])["v"]
        q1, q3 = qs[0], qs[1]
        lb, ub = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        return d.agg(
            F.sum(outlier_predicate(F.col("v"), lb, ub, "float").cast("long")).alias(
                "n_outliers"
            ),
            F.sum(F.isnan("v").cast("long")).alias("n_nan"),
            F.round(F.lit(float(q1)), 6).alias("q1"),
            F.round(F.lit(float(q3)), 6).alias("q3"),
        )

    q["a10_outlier_nan"] = a10_outlier_nan

    def a12_correlation(spark, sf):
        li = _t(spark, sf, "lineitem")
        return li.agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("corr_price_disc"),
        )

    q["a12_correlation"] = a12_correlation

    def a13_skewness(spark, sf):
        ev = _t(spark, sf, "events")
        n = F.count("value")
        adj = F.sqrt(n * (n - 1)) / (n - 2)
        return ev.agg(
            F.round(F.skewness("value") * adj, 6).alias("skew_value"),
            F.round(F.stddev("value"), 6).alias("stddev_value"),
        )

    q["a13_skewness"] = a13_skewness

    def a14_class_balance(spark, sf):
        o = _t(spark, sf, "orders")
        total = o.filter(F.col("o_orderstatus").isNotNull()).count()
        return (
            o.filter(F.col("o_orderstatus").isNotNull())
            .groupBy("o_orderstatus")
            .agg(F.round(F.count("*") / F.lit(total), 6).alias("freq"))
        )

    q["a14_class_balance"] = a14_class_balance

    def a17_ks_statistic(spark, sf):
        from pandas_dq_spark.operators.ks import ks_2samp_auto

        ev = _t(spark, sf, "events")
        a = ev.filter("event_type = 'click'")
        b = ev.filter("event_type = 'error'")
        ks = ks_2samp_auto(a, "value", b, "value")
        return spark.createDataFrame([(round(ks, 6),)], "ks double")

    q["a17_ks_statistic"] = a17_ks_statistic

    def a17b_ks_many(spark, sf):
        # the fused multi-column KS (one long-form job for ALL columns,
        # operators/ks.ks_2samp_many) vs per-column DuckDB windows
        from pandas_dq_spark.operators.ks import ks_2samp_many

        ev = _t(spark, sf, "events")
        a = ev.filter("event_id % 2 = 0")
        b = ev.filter("event_id % 2 = 1")
        stats = ks_2samp_many(a, b, ["value", "user_id"])
        return spark.createDataFrame(
            [(c, round(stats[c], 9)) for c in ["value", "user_id"]],
            "column string, ks double",
        )

    q["a17b_ks_many"] = a17b_ks_many

    def a18_set_except(spark, sf):
        c = _t(spark, sf, "customer")
        s = _t(spark, sf, "supplier")
        return (
            c.select(F.col("c_nationkey").alias("nationkey"))
            .distinct()
            .exceptAll(s.select(F.col("s_nationkey").alias("nationkey")).distinct())
        )

    q["a18_set_except"] = a18_set_except

    def a19_id_zero_var(spark, sf):
        from pandas_dq_spark.plans.profile import profile

        c = _t(spark, sf, "customer")
        st = profile(c, with_dates=False)
        rows = [
            (p.name, int(p.n_distinct), bool(p.is_id_like), bool(p.is_constant))
            for p in st.columns.values()
        ]
        return spark.createDataFrame(
            rows, "column_name string, n_distinct bigint, is_id boolean, is_const boolean"
        )

    q["a19_id_zero_var"] = a19_id_zero_var

    def a22_strlen_stats(spark, sf):
        d = _t(spark, sf, "documents")
        return d.groupBy("lang").agg(
            F.max(F.length("text")).alias("max_len"),
            F.round(F.avg(F.length("text")), 6).alias("avg_len"),
        )

    q["a22_strlen_stats"] = a22_strlen_stats

    def a23_date_range(spark, sf):
        ev = _t(spark, sf, "events")
        return ev.agg(
            F.min(F.year("ts")).alias("min_year"),
            F.max(F.year("ts")).alias("max_year"),
            F.sum(
                ((F.year("ts") >= 1900) & (F.year("ts") <= 2050)).cast("long")
            ).alias("n_in_range"),
        )

    q["a23_date_range"] = a23_date_range

    # ---- scalar / json / time functions ------------------------------
    def f_json_extract(spark, sf):
        ev = _t(spark, sf, "events")
        return ev.groupBy("event_type").agg(
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k")
        )

    q["f_json_extract"] = f_json_extract

    def f_daily_counts(spark, sf):
        ev = _t(spark, sf, "events")
        return ev.groupBy(
            F.to_date("ts").alias("day"), F.col("event_type")
        ).agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )

    q["f_daily_counts"] = f_daily_counts

    # ---- text analysis / training-data ops ---------------------------
    def t_token_counts(spark, sf):
        # r6 NOTE: regexp_count(\s+)+1 (equal counts) was tried and
        # REVERTED — Spark lowers it to size(regexp_extract_all(...)),
        # which interleaved A/B measured ~35% slower than split here
        d = _t(spark, sf, "documents")
        return d.groupBy("lang").agg(
            F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("n_tokens")
        )

    q["t_token_counts"] = t_token_counts

    def t_quality_stats(spark, sf):
        d = _t(spark, sf, "documents")
        sym = F.length(F.regexp_replace("text", r"[\p{L}\p{N}\s]", "")) / F.length("text")
        words = F.split(F.trim("text"), r"\s+")
        mwl = F.aggregate(words, F.lit(0), lambda a, x: a + F.length(x)) / F.size(words)
        return d.groupBy("source").agg(
            F.round(F.avg(sym), 6).alias("avg_symbol_ratio"),
            F.round(F.avg(mwl), 6).alias("avg_word_len"),
        )

    q["t_quality_stats"] = t_quality_stats

    def t_stopword_hits(spark, sf):
        d = _t(spark, sf, "documents")
        arr = F.array(*[F.lit(w) for w in STOPWORDS_5])
        hits = F.size(
            F.filter(F.split(F.trim("text"), r"\s+"), lambda x: F.array_contains(arr, x))
        )
        return d.groupBy("lang").agg(F.sum(hits).alias("stop_hits"))

    q["t_stopword_hits"] = t_stopword_hits

    def t_line_stats(spark, sf):
        d = _t(spark, sf, "documents")
        lines = F.split("text", "\n")
        return d.agg(
            F.sum(F.size(lines)).alias("total_lines"),
            F.sum(F.size(F.array_distinct(lines))).alias("distinct_lines"),
        )

    q["t_line_stats"] = t_line_stats

    def w_quality_rule_counts(spark, sf):
        # r6 NOTE: a pre-projection + regexp_count(complement class)
        # rewrite (same numbers) was tried and REVERTED — interleaved
        # A/B measured the original form ~15% faster (codegen already
        # CSE-shares the split inside the aggregate, and Spark lowers
        # regexp_count to size(regexp_extract_all(...)), which costs
        # more than the stripped-copy length it replaced)
        d = _t(spark, sf, "documents")
        words = F.split(F.trim("text"), r"\s+")
        n_words = F.size(words)
        sym = F.length(F.regexp_replace("text", r"[\p{L}\p{N}\s]", "")) / F.length("text")
        arr = F.array(*[F.lit(w) for w in STOPWORDS_5])
        stopfrac = F.size(F.filter(words, lambda x: F.array_contains(arr, x))) / n_words
        lines = F.split("text", "\n")
        repfrac = 1.0 - F.size(F.array_distinct(lines)) / F.size(lines)
        return d.agg(
            F.sum((n_words < 50).cast("long")).alias("n_short"),
            F.sum((sym > 0.1).cast("long")).alias("n_symbol_heavy"),
            F.sum((stopfrac < 0.02).cast("long")).alias("n_low_stopword"),
            F.sum((repfrac > 0.3).cast("long")).alias("n_repeated_lines"),
        )

    q["w_quality_rule_counts"] = w_quality_rule_counts

    def w_running_revenue(spark, sf):
        # window running aggregate + final frame row per customer
        _t(spark, sf, "orders").createOrReplaceTempView("orders_wr")
        return spark.sql(
            """
            WITH r AS (
              SELECT o_custkey,
                     sum(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS running,
                     row_number() OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
                     ) AS rn
              FROM orders_wr
            )
            SELECT o_custkey, round(running, 2) AS total_running
            FROM r WHERE rn = 1
            """
        )

    q["w_running_revenue"] = w_running_revenue

    def q_rollup_summary(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (
            li.rollup("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.count("*").alias("n"),
            )
        )

    q["q_rollup_summary"] = q_rollup_summary

    # ---- Fix_DQ scalar fixes (F1/F5/F6/F8) ----------------------------
    def f_scalar_fixes(spark, sf):
        li = _t(spark, sf, "lineitem")
        return li.agg(
            F.round(F.sum(F.least("l_extendedprice", F.lit(50000.0))), 2).alias("cap_sum"),
            F.round(F.sum(F.log1p("l_quantity")), 2).alias("log1p_sum"),
        )

    q["f_scalar_fixes"] = f_scalar_fixes

    def f_rare_replace(spark, sf):
        _t(spark, sf, "orders").createOrReplaceTempView("orders_fr")
        return spark.sql(
            """
            WITH f AS (
              SELECT o_orderpriority AS v,
                     count(*) OVER (PARTITION BY o_orderpriority) * 1.0
                       / count(*) OVER () AS freq
              FROM orders_fr
            )
            SELECT CASE WHEN freq < 0.15 THEN 'Rare' ELSE v END AS val,
                   count(*) AS cnt
            FROM f GROUP BY 1
            """
        )

    q["f_rare_replace"] = f_rare_replace

    def f_yeo_johnson(spark, sf):
        # closed-form Yeo-Johnson at fixed lambda=0.5 on a non-negative
        # column (the F8 transform expression, SURVEY.md §2.8)
        li = _t(spark, sf, "lineitem")
        yj = (F.pow(F.col("l_quantity") + 1.0, F.lit(0.5)) - 1.0) / 0.5
        return li.agg(F.round(F.sum(yj), 2).alias("yj_sum"))

    q["f_yeo_johnson"] = f_yeo_johnson

    # ---- flagship profile numbers as an oracle query ------------------
    def dq_profile_lineitem(spark, sf):
        from pandas_dq_spark.plans.profile import profile

        li = _t(spark, sf, "lineitem")
        st = profile(li, with_dates=False)
        rows = []
        for p in st.columns.values():
            numeric = p.kind in ("int", "float")
            rows.append(
                (
                    p.name,
                    int(p.n_missing),
                    int(100 * p.n_distinct / st.n_rows),
                    float(p.min_val) if numeric and p.min_val is not None else None,
                    float(p.max_val) if numeric and p.max_val is not None else None,
                )
            )
        return spark.createDataFrame(
            rows,
            "column_name string, n_missing bigint, unique_pct bigint, "
            "min_val double, max_val double",
        )

    q["dq_profile_lineitem"] = dq_profile_lineitem

    # ---- A9 mixed-type analogue ---------------------------------------
    def a9_mixed_types(spark, sf):
        from pandas_dq_spark.operators.mixed_types import mixed_type_report

        d = _t(spark, sf, "documents")
        return mixed_type_report(d)

    q["a9_mixed_types"] = a9_mixed_types

    # ---- similarity search -------------------------------------------
    def s_cosine_topk(spark, sf):
        # r6 NOTE: fusing the first() job away via a broadcast cross
        # join was tried and REVERTED — with the query vector as a
        # LITERAL array its norm constant-folds at plan time, and the
        # interleaved A/B measured the literal form ~25% faster than
        # the one-job cross-join form despite the extra driver action
        from pandas_dq_spark.operators.similarity import cosine_expr

        e = _t(spark, sf, "embeddings")
        qv = e.filter("vec_id = 0").select("embedding").first()["embedding"]
        sim = cosine_expr(F.col("embedding"), F.array(*[F.lit(float(x)) for x in qv]))
        return (
            e.filter("vec_id <> 0")
            .select("vec_id", F.round(sim, 5).alias("sim"))
            .orderBy(F.col("sim").desc(), F.col("vec_id"))
            .limit(10)
        )

    q["s_cosine_topk"] = s_cosine_topk

    def s_label_best_sim(spark, sf):
        from pandas_dq_spark.operators.similarity import cosine_expr

        e = _t(spark, sf, "embeddings")
        qv = e.filter("vec_id = 0").select("embedding").first()["embedding"]
        sim = cosine_expr(F.col("embedding"), F.array(*[F.lit(float(x)) for x in qv]))
        return (
            e.filter("vec_id <> 0")
            .groupBy("label")
            .agg(F.round(F.max(sim), 5).alias("best_sim"))
        )

    q["s_label_best_sim"] = s_label_best_sim

    # ---- non-SQL-expressible (rows-only driver check) -----------------
    def m_minhash_near_dups(spark, sf):
        from pandas_dq_spark.operators.dedup import minhash_lsh_duplicates

        d = _t(spark, sf, "documents")
        out = minhash_lsh_duplicates(d, "doc_id", threshold=0.6)
        return out.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("is_near_dup").cast("long")).alias("n_near_dups"),
        )

    q["m_minhash_near_dups"] = m_minhash_near_dups

    def m_simhash_near_dups(spark, sf):
        from pandas_dq_spark.operators.dedup import simhash_duplicates

        d = _t(spark, sf, "documents")
        out = simhash_duplicates(d, "doc_id", max_hamming=3)
        return out.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("is_near_dup").cast("long")).alias("n_near_dups"),
        )

    q["m_simhash_near_dups"] = m_simhash_near_dups

    def w_webtext_keep_stats(spark, sf):
        from pandas_dq_spark.webtext.heuristics import QualityConfig
        from pandas_dq_spark.webtext.pipeline import quality_filter

        d = _t(spark, sf, "documents")
        pages = d.select(
            F.concat(F.lit("doc://"), F.lpad(F.col("doc_id").cast("string"), 9, "0")).alias("url"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
            F.col("text"),
            F.col("lang"),
        )
        out = quality_filter(pages, QualityConfig(min_words=20), check_extraction=False)
        return out.groupBy("lang_pred").agg(
            F.count("*").alias("n"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
        )

    q["w_webtext_keep_stats"] = w_webtext_keep_stats

    def fixdq_transform(spark, sf):
        from pandas_dq_spark.operators.fix_dq import FixDQ

        li = _t(spark, sf, "lineitem")
        fx = FixDQ()
        out = fx.fit(li).transform(li)
        aggs = [F.count("*").alias("n_rows")]
        for c in out.columns:
            if dict(out.dtypes)[c] == "double":
                aggs.append(F.round(F.avg(c), 4).alias(f"avg_{c}"))
        return out.agg(*aggs)

    q["fixdq_transform"] = fixdq_transform

    def dc_report_events(spark, sf):
        from pandas_dq_spark.operators.dc_report import dc_report

        ev = _t(spark, sf, "events")
        a = ev.filter("event_id % 2 = 0").drop("event_id")
        b = ev.filter("event_id % 2 = 1").drop("event_id")
        return dc_report(a, b, verbose=0)

    q["dc_report_events"] = dc_report_events

    def dq_report_orders(spark, sf):
        from pandas_dq_spark.operators.dq_report import dq_report

        return dq_report(_t(spark, sf, "orders"))

    q["dq_report_orders"] = dq_report_orders

    def schema_checker_events(spark, sf):
        from pandas_dq_spark.operators.schema_checker import DataSchemaChecker

        ev = _t(spark, sf, "events")
        chk = DataSchemaChecker(
            {
                "event_id": "int64",
                "ts": "date",
                "user_id": "int64",
                "event_type": "string",
                "value": "float32",
                "props": "string",
            }
        )
        out = chk.fit(ev).transform(ev)
        counts = (
            out.agg(*[F.count(F.col(c)).alias(c) for c in out.columns])
            .collect()[0]
            .asDict()
        )
        return spark.createDataFrame(
            [(c, t, counts[c]) for c, t in out.dtypes],
            "column string, dtype string, n_nonnull long",
        )

    q["schema_checker_events"] = schema_checker_events

    def t_fingerprints(spark, sf):
        from pandas_dq_spark.functions.textstats import fingerprint, quality_score
        from pandas_dq_spark.webtext.lm import EN_STOPWORDS

        d = _t(spark, sf, "documents")
        return d.agg(
            F.count_distinct(fingerprint(F.col("text"))).alias("n_fingerprints"),
            F.round(F.avg(quality_score(F.col("text"), EN_STOPWORDS)), 6).alias(
                "avg_quality"
            ),
        )

    q["t_fingerprints"] = t_fingerprints

    def d_embedding_near_dups(spark, sf):
        # full-probe settings (planes=0 -> one bucket, cap disabled):
        # the SAME operator code path with recall exactly 1, so the
        # brute-force DuckDB oracle applies.  LSH-mode recall/cap
        # behavior is covered by tests/test_dedup_similarity.py.
        from pandas_dq_spark.operators.dedup import embedding_near_duplicates

        e = _t(spark, sf, "embeddings")
        pairs = embedding_near_duplicates(
            e, "vec_id", threshold=0.45, planes=0, max_bucket=None
        )
        return pairs.select(
            "id_a", "id_b", F.round("cos", 3).alias("cos")
        )

    q["d_embedding_near_dups"] = d_embedding_near_dups

    def j_ngram_jaccard(spark, sf):
        # exhaustive mode (recall exactly 1) so the brute-force DuckDB
        # shingle oracle applies; LSH-candidate mode is covered by
        # tests/test_dedup_similarity.py
        from pandas_dq_spark.operators.dedup import ngram_jaccard_pairs

        d = _t(spark, sf, "documents")
        pairs = ngram_jaccard_pairs(
            d, "doc_id", shingle_n=3, threshold=0.5, exhaustive=True
        )
        return pairs.select(
            "id_a", "id_b", F.round("jaccard", 3).alias("jac")
        )

    q["j_ngram_jaccard"] = j_ngram_jaccard

    def mm_media_features(spark, sf):
        from pandas_dq_spark.operators.multimodal import extract_features, media_fixture

        media = media_fixture(spark, 60)
        feats = extract_features(media)
        return feats.groupBy("kind").agg(
            F.count("*").alias("n"),
            F.round(F.avg("n_bytes"), 4).alias("avg_bytes"),
        )

    q["mm_media_features"] = mm_media_features

    # ---- corpus-preparation operators (r5: functions/corpus.py) -----
    def c_sample_stats(spark, sf):
        # deterministic md5-threshold sampling: pure function of the
        # key, so DuckDB replays the identical predicate
        from pandas_dq_spark.functions.corpus import deterministic_sample

        d = _t(spark, sf, "documents")
        kept = deterministic_sample(d, 0.25, "doc_id")
        return kept.agg(
            F.count("*").alias("n_kept"),
            F.sum("doc_id").alias("id_sum"),
        )

    q["c_sample_stats"] = c_sample_stats

    def c_lang_mix(spark, sf):
        from pandas_dq_spark.functions.corpus import stratified_mix

        d = _t(spark, sf, "documents")
        mixed = stratified_mix(
            d, {"en": 0.5, "de": 1.0}, stratum_col="lang",
            key_col="doc_id", default_fraction=0.1,
        )
        return mixed.groupBy("lang").agg(F.count("*").alias("n_kept"))

    q["c_lang_mix"] = c_lang_mix

    def c_chunks(spark, sf):
        from pandas_dq_spark.functions.corpus import chunk_documents

        d = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
        return chunk_documents(d, chunk_words=40, overlap_words=10)

    q["c_chunks"] = c_chunks

    def c_tfidf_top(spark, sf):
        from pandas_dq_spark.functions.corpus import tfidf_top_terms

        d = _t(spark, sf, "documents")
        # round to 4 decimals: the score mixes ln() evaluated by two
        # libms (JVM vs DuckDB), identical to well past 1e-12 but not
        # bit-pinned
        out = tfidf_top_terms(d, k=15, min_df=5)
        return out.select(
            "term", "tf", "df", F.round("tfidf", 4).alias("tfidf")
        )

    q["c_tfidf_top"] = c_tfidf_top

    def c_components(spark, sf):
        # full clusters from the full-probe embedding near-dup pairs:
        # DuckDB replays the pair predicate + a recursive transitive
        # closure, so the component assignment is oracle-exact
        from pandas_dq_spark.operators.dedup import (
            connected_components,
            embedding_near_duplicates,
        )

        e = _t(spark, sf, "embeddings")
        pairs = embedding_near_duplicates(
            e, "vec_id", threshold=0.45, planes=0, max_bucket=None
        ).select("id_a", "id_b")
        comp = connected_components(pairs)
        return comp.select(
            F.col("id").alias("vec_id"), F.col("comp").alias("component")
        )

    q["c_components"] = c_components

    def _messy_urls(sf_df):
        # deterministic messy urls from doc_id — DuckDB rebuilds the
        # identical strings, so normalization is oracle-exact
        d = F.col("doc_id")
        return sf_df.filter(d < 200).select(
            "doc_id",
            F.concat(
                F.lit("HTTPS://WWW.Site"), (d % 7).cast("string"),
                F.lit(".Example.COM"),
                F.when(d % 2 == 0, ":443").otherwise(""),
                F.lit("/Docs/"), d.cast("string"),
                F.when(d % 3 == 0, "/").otherwise(""),
                F.when(d % 5 == 0, "#Frag").otherwise(""),
            ).alias("url"),
        )

    def w_url_normalize(spark, sf):
        from pandas_dq_spark.webtext.urls import normalize_url, url_host

        base = _messy_urls(_t(spark, sf, "documents"))
        return base.select(
            "doc_id",
            normalize_url(F.col("url")).alias("norm_url"),
            url_host(F.col("url")).alias("host"),
        )

    q["w_url_normalize"] = w_url_normalize

    def w_host_blocklist(spark, sf):
        from pandas_dq_spark.webtext.urls import filter_blocklisted_hosts, url_host

        base = _messy_urls(_t(spark, sf, "documents"))
        kept = filter_blocklisted_hosts(
            base, ["www.site1.example.com", "WWW.Site4.Example.COM"]
        )
        return kept.select(url_host(F.col("url")).alias("host")).groupBy(
            "host"
        ).agg(F.count("*").alias("n_docs"))

    q["w_host_blocklist"] = w_host_blocklist

    def w_line_dedup(spark, sf):
        # CCNet-style corpus-level boilerplate-line removal
        from pandas_dq_spark.webtext.linededup import remove_repeated_lines

        d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
        return remove_repeated_lines(
            d, id_col="doc_id", min_docs=3
        )

    q["w_line_dedup"] = w_line_dedup

    def d_decontaminate(spark, sf):
        # benchmark-leakage screen: docs 0-9 play the eval set
        from pandas_dq_spark.operators.dedup import mark_contaminated

        d = _t(spark, sf, "documents")
        ev = d.filter(F.col("doc_id") < 10)
        tr = d.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 400))
        return mark_contaminated(tr, ev, "doc_id", shingle_n=8).select(
            "doc_id", "is_contaminated"
        )

    q["d_decontaminate"] = d_decontaminate

    def t_ngram_repetition(spark, sf):
        # Gopher-style within-doc repetition: duplicate n-gram
        # fractions + the top-bigram's share (the oracle computes the
        # latter via an INDEPENDENT unnest+groupBy mode, vs the
        # sorted-array run-length fold here)
        from pandas_dq_spark.functions.textstats import (
            duplicate_ngram_fraction,
            top_ngram_fraction,
        )

        d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
        return d.select(
            "doc_id",
            F.round(duplicate_ngram_fraction(F.col("text"), 2), 6).alias("dup2"),
            F.round(duplicate_ngram_fraction(F.col("text"), 3), 6).alias("dup3"),
            F.round(top_ngram_fraction(F.col("text"), 2), 6).alias("top2"),
        )

    q["t_ngram_repetition"] = t_ngram_repetition

    return q


# ---------------------------------------------------------- oracle SQL
_LINEITEM_COLS = [
    ("l_orderkey", True),
    ("l_partkey", True),
    ("l_suppkey", True),
    ("l_linenumber", True),
    ("l_quantity", True),
    ("l_extendedprice", True),
    ("l_discount", True),
    ("l_tax", True),
    ("l_returnflag", False),
    ("l_linestatus", False),
    ("l_shipdate", False),
]


def _dq_profile_sql() -> str:
    parts = []
    for name, numeric in _LINEITEM_COLS:
        mn = f"CAST(min({name}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(max({name}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
        parts.append(
            f"SELECT '{name}' AS column_name, "
            f"CAST(count(*) - count({name}) AS BIGINT) AS n_missing, "
            f"CAST(floor(100.0 * count(DISTINCT {name}) / count(*)) AS BIGINT) AS unique_pct, "
            f"{mn} AS min_val, {mx} AS max_val FROM lineitem"
        )
    return "\nUNION ALL\n".join(parts)


_PARSE_CASE = (
    "CASE WHEN {c} IS NULL THEN NULL "
    "WHEN regexp_matches({c}, '^[+-]?[0-9]+$') THEN 'int' "
    "WHEN regexp_matches({c}, '^[+-]?([0-9]+\\.[0-9]*|\\.[0-9]+|[0-9]+\\.?[0-9]*[eE][+-]?[0-9]+)$') THEN 'float' "
    "WHEN regexp_matches({c}, '^(?i)(true|false)$') THEN 'bool' "
    "WHEN regexp_matches({c}, '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}([ T][0-9]{{2}}:[0-9]{{2}}(:[0-9]{{2}}(\\.[0-9]+)?)?)?$') THEN 'date' "
    "ELSE 'str' END"
)


def _mixed_types_sql() -> str:
    parts = []
    for c in ["text", "lang", "source"]:
        cls = _PARSE_CASE.format(c=c)
        parts.append(
            f"SELECT '{c}' AS column_name, "
            f"CAST(count(DISTINCT {cls}) AS BIGINT) AS n_classes, "
            f"count(DISTINCT {cls}) > 1 AS is_mixed FROM documents"
        )
    return "\nUNION ALL\n".join(parts)


def _fixdq_transform_sql() -> str:
    """FixDQ on lineitem in SQL: fitted state at sf0.01 = upper-bound
    caps on the four float columns only (no drops / imputes / skew
    transforms fire on this data — verified via FixDQ.fit); bounds are
    COMPUTED here (quantile_cont(0.87/0.13), pandas_dq.py:921-948
    formula) so the oracle recomputes the fitted values, not copies
    them."""
    floats = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    bexprs = ", ".join(
        f"quantile_cont({c}, 0.87) + 1.5*(quantile_cont({c}, 0.87) - quantile_cont({c}, 0.13)) AS ub_{c}"
        for c in floats
    )
    avgs = ", ".join(
        f"round(avg(CASE WHEN {c} > ub_{c} THEN ub_{c} ELSE {c} END), 4) AS avg_{c}"
        for c in floats
    )
    return f"""
        WITH b AS (SELECT {bexprs} FROM lineitem),
             d AS (SELECT DISTINCT * FROM lineitem)
        SELECT count(*) AS n_rows, {avgs}
        FROM d, b
    """


def _dq_report_orders_sql() -> str:
    """dq_report(orders) in SQL: per-column report frame with the
    check CONDITIONS recomputed (ID = distinct==n, IQR outliers with
    printf'd bounds, rare-category counts) — only the dtype-driven
    strings (date-time flag) and pandas dtype names are literals.
    Min/max render as float64 strings because the frame holds
    ineligible (string/date) columns — the reference's join-reindex
    upcast (pandas_dq.py:230)."""
    ints = {"o_orderkey": "int64", "o_custkey": "int64"}
    rows = []
    for c, dt in ints.items():
        rows.append(f"""
          SELECT '{c}' AS column_name, '{dt}' AS data_type,
                 (SELECT 100.0*(count(*) - count({c}))/count(*) FROM orders) AS missing_values_pct,
                 CAST((SELECT (100*count(DISTINCT {c}))//count(*) FROM orders) AS VARCHAR) AS unique_values_pct,
                 CAST((SELECT CAST(min({c}) AS DOUBLE) FROM orders) AS VARCHAR) AS minimum_value,
                 CAST((SELECT CAST(max({c}) AS DOUBLE) FROM orders) AS VARCHAR) AS maximum_value,
                 CASE WHEN (SELECT count(DISTINCT {c}) FROM orders) = (SELECT count(*) FROM orders)
                      THEN 'Possible ID column: drop before modeling step.'
                      WHEN (SELECT count(DISTINCT {c}) FROM orders) = 1
                      THEN 'Possible Zero-variance or low information colum: drop before modeling step.'
                      ELSE 'No issue' END AS dq_issue
        """)
    for c in ["o_orderstatus", "o_orderpriority"]:
        rows.append(f"""
          SELECT '{c}', 'object',
                 (SELECT 100.0*(count(*) - count({c}))/count(*) FROM orders),
                 CAST((SELECT (100*count(DISTINCT {c}))//count(*) FROM orders) AS VARCHAR),
                 '', '',
                 CASE WHEN (SELECT count(*) FROM (
                         SELECT count(*) AS cnt FROM orders WHERE {c} IS NOT NULL GROUP BY {c}
                       ) t WHERE cnt * 1.0 / (SELECT count({c}) FROM orders) < 0.01) > 0
                      THEN '<<rare categories present: oracle does not render the list>>'
                      ELSE 'No issue' END
        """)
    rows.append("""
      SELECT 'o_totalprice', 'float64',
             (SELECT 100.0*(count(*) - count(o_totalprice))/count(*) FROM orders),
             'NA',
             CAST((SELECT min(o_totalprice) FROM orders) AS VARCHAR),
             CAST((SELECT max(o_totalprice) FROM orders) AS VARCHAR),
             (SELECT CASE WHEN n_out > 0
                  THEN printf('Column has %d outliers greater than upper bound (%.2f) or lower than lower bound(%.2f). Cap them or remove them.', n_out, ub, lb)
                  ELSE 'No issue' END
              FROM (
                SELECT CAST(sum(CASE WHEN o_totalprice < lb OR o_totalprice > ub THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
                       any_value(ub) AS ub, any_value(lb) AS lb
                FROM orders, (
                  SELECT quantile_cont(o_totalprice, 0.25) - 1.5*(quantile_cont(o_totalprice, 0.75) - quantile_cont(o_totalprice, 0.25)) AS lb,
                         quantile_cont(o_totalprice, 0.75) + 1.5*(quantile_cont(o_totalprice, 0.75) - quantile_cont(o_totalprice, 0.25)) AS ub
                  FROM orders)
              ))
    """)
    rows.append("""
      SELECT 'o_orderdate', 'datetime64[ns]',
             (SELECT 100.0*(count(*) - count(o_orderdate))/count(*) FROM orders),
             CAST((SELECT (100*count(DISTINCT o_orderdate))//count(*) FROM orders) AS VARCHAR),
             '', '',
             'Possible date-time colum: transform before modeling step.'
    """)
    return "\nUNION ALL\n".join(rows)


def _t_fingerprints_sql() -> str:
    """quality_score recomputed in DuckDB (same weights/bands as
    functions/textstats.py:59-75); n_fingerprints compared against
    count(DISTINCT whitespace-normalized text) — equal iff the 31-bit
    rolling hash has no collision at this scale (it is also a
    collision check)."""
    from pandas_dq_spark.webtext.lm import EN_STOPWORDS

    stop_list = "[" + ",".join(f"'{s}'" for s in EN_STOPWORDS) + "]"
    return f"""
        WITH s AS (
          SELECT text, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
        ), q AS (
          SELECT array_to_string(w, ' ') AS norm,
                 CASE WHEN trim(text) = '' THEN 0.0 ELSE
                   0.3 * (CASE WHEN len(w) BETWEEN 50 AND 100000 THEN 1.0
                               WHEN len(w) >= 10 THEN 0.5 ELSE 0.0 END)
                 + 0.25 * greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
                       THEN length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0 / length(text)
                       ELSE 0.0 END) * 5.0)
                 + 0.25 * least(1.0, (len(list_filter(w, x -> list_contains({stop_list}, x))) * 1.0 / len(w)) / 0.2)
                 + 0.2 * (CASE WHEN (list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w)) BETWEEN 3 AND 10
                               THEN 1.0 ELSE 0.0 END)
                 END AS score
          FROM s
        )
        SELECT count(DISTINCT norm) AS n_fingerprints,
               round(avg(score), 6) AS avg_quality
        FROM q
    """


def _schema_checker_sql() -> str:
    """DataSchemaChecker(events) in SQL: target dtypes are literals
    (they are the checker's declared schema), but each column's
    post-coercion non-null count is recomputed with TRY_CAST — the
    data-derived part of the check."""
    return """
        SELECT 'event_id' AS column, 'bigint' AS dtype,
               (SELECT count(event_id) FROM events) AS n_nonnull
        UNION ALL SELECT 'ts', 'timestamp',
               (SELECT count(try_cast(CAST(ts AS VARCHAR) AS TIMESTAMP)) FROM events)
        UNION ALL SELECT 'user_id', 'bigint',
               (SELECT count(user_id) FROM events)
        UNION ALL SELECT 'event_type', 'string',
               (SELECT count(event_type) FROM events)
        UNION ALL SELECT 'value', 'float',
               (SELECT count(try_cast(value AS FLOAT)) FROM events)
        UNION ALL SELECT 'props', 'string',
               (SELECT count(props) FROM events)
    """


def _dc_report_events_sql() -> str:
    """dc_report(events even/odd split, verbose=0) in SQL: per-side
    issue strings and the Distribution Difference column recomputed —
    IQR outlier counts+bounds, rare-category counts (cap 10 ->
    'Too many to list', pandas_dq.py:289-293), exact KS via window
    cumulative CDFs, missing/unique diffs via printf.  The KS gate
    (numeric AND count_unique<10 both sides) passes only for the float
    column `value` ('NA' -> 0 quirk); user_id's distinct count is far
    above 10 at every sf, so no KS is encoded for it."""

    def side(tag: str) -> str:
        parity = 0 if tag == "tr" else 1
        return f"(SELECT * FROM events WHERE event_id % 2 = {parity})"

    def rare_issue(s: str, col: str) -> str:
        return f"""
          (SELECT CASE WHEN n_rare = 0 THEN 'No issue'
                  WHEN n_rare <= 10 THEN '<<oracle: small rare list not rendered>>'
                  ELSE printf('%d rare categories: Too many to list. Group them into a single category or drop the categories.', n_rare) END
           FROM (SELECT CAST(count(*) AS BIGINT) AS n_rare FROM (
              SELECT count(*) AS cnt FROM {s} t1 WHERE {col} IS NOT NULL GROUP BY {col}
           ) t WHERE cnt * 1.0 / (SELECT count({col}) FROM {s} t2) < 0.01))
        """

    def outlier_issue(s: str) -> str:
        return f"""
          (SELECT CASE WHEN n_out > 0
               THEN printf('Column has %d outliers greater than upper bound (%.2f) or lower than lower bound(%.2f). Cap them or remove them.', n_out, ub, lb)
               ELSE 'No issue' END
           FROM (SELECT CAST(sum(CASE WHEN value < lb OR value > ub THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
                        any_value(ub) AS ub, any_value(lb) AS lb
                 FROM {s} t1, (
                   SELECT quantile_cont(value, 0.25) - 1.5*(quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) AS lb,
                          quantile_cont(value, 0.75) + 1.5*(quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) AS ub
                   FROM {s} t2) b))
        """

    def upct(s: str, col: str) -> str:
        return f"(SELECT (100*count(DISTINCT {col}))//count(*) FROM {s} t)"

    def mpct(s: str, col: str) -> str:
        return f"(SELECT 100.0*(count(*) - count({col}))/count(*) FROM {s} t)"

    def diff_nonnum(col: str) -> str:
        return f"""
          NULLIF(
            CASE WHEN {mpct(side('tr'), col)} <> {mpct(side('te'), col)}
                 THEN printf('The percentage of missing values of {col} are different between train (%.2f%%) and test (%.2f%%). ',
                             {mpct(side('tr'), col)}, {mpct(side('te'), col)}) ELSE '' END ||
            CASE WHEN {upct(side('tr'), col)} <> {upct(side('te'), col)}
                 THEN printf('The percentage of unique values of {col} are different between train (%.2f%%) and test (%.2f%%). ',
                             CAST({upct(side('tr'), col)} AS DOUBLE), CAST({upct(side('te'), col)} AS DOUBLE)) ELSE '' END,
          '')
        """

    ks = """
      (WITH u AS (
         SELECT value AS v, CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS tag
         FROM events WHERE value IS NOT NULL AND NOT isnan(value)
       ), pv AS (
         SELECT v, sum(tag) AS c1, sum(1 - tag) AS c2 FROM u GROUP BY v
       ), g AS (
         SELECT abs(
           sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / (SELECT sum(c1) FROM pv)
           - sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / (SELECT sum(c2) FROM pv)) AS gap
         FROM pv
       )
       SELECT max(gap) FROM g)
    """
    diff_value = f"""
      NULLIF(
        CASE WHEN {ks} > 0 THEN printf('The distributions of value are different with a KS test statistic of %.3f. ', {ks}) ELSE '' END ||
        CASE WHEN {mpct(side('tr'), 'value')} <> {mpct(side('te'), 'value')}
             THEN printf('The percentage of missing values of value are different between train (%.2f%%) and test (%.2f%%). ',
                         {mpct(side('tr'), 'value')}, {mpct(side('te'), 'value')}) ELSE '' END,
      '')
    """
    rows = [
        f"""SELECT 'ts' AS column_name,
              'Possible date-time colum: transform before modeling step.' AS dq_issue_train,
              'Possible date-time colum: transform before modeling step.' AS dq_issue_test,
              {diff_nonnum('ts')} AS distribution_difference""",
        f"""SELECT 'user_id',
              CASE WHEN (SELECT count(DISTINCT user_id) = count(*) FROM {side('tr')} t) THEN 'Possible ID column: drop before modeling step.' ELSE 'No issue' END,
              CASE WHEN (SELECT count(DISTINCT user_id) = count(*) FROM {side('te')} t) THEN 'Possible ID column: drop before modeling step.' ELSE 'No issue' END,
              {diff_nonnum('user_id')}""",
        f"""SELECT 'event_type',
              {rare_issue(side('tr'), 'event_type')},
              {rare_issue(side('te'), 'event_type')},
              {diff_nonnum('event_type')}""",
        f"""SELECT 'value',
              {outlier_issue(side('tr'))},
              {outlier_issue(side('te'))},
              {diff_value}""",
        f"""SELECT 'props',
              {rare_issue(side('tr'), 'props')},
              {rare_issue(side('te'), 'props')},
              {diff_nonnum('props')}""",
    ]
    return "\nUNION ALL\n".join(rows)


def _ks_window_sql(col: str) -> str:
    """Exact two-sample KS (even vs odd event_id) for one column via
    window cumulative CDFs — the DuckDB mirror of ks_2samp_many."""
    return f"""
      (WITH u AS (
         SELECT {col} AS v, CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS tag
         FROM events WHERE {col} IS NOT NULL AND NOT isnan({col}::DOUBLE)
       ), pv AS (
         SELECT v, sum(tag) AS c1, sum(1 - tag) AS c2 FROM u GROUP BY v
       ), g AS (
         SELECT abs(
           sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / (SELECT sum(c1) FROM pv)
           - sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / (SELECT sum(c2) FROM pv)) AS gap
         FROM pv
       )
       SELECT round(max(gap), 9) FROM g)
    """


def oracle_sql() -> dict[str, str]:
    from pandas_dq_spark.functions.corpus import hash_threshold as _ht

    return {
        "c_sample_stats": f"""
            SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
            FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{_ht(0.25)}'
        """,
        "c_lang_mix": f"""
            SELECT lang, count(*) AS n_kept FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
              CASE lang WHEN 'en' THEN '{_ht(0.5)}'
                        WHEN 'de' THEN '{_ht(1.0)}'
                        ELSE '{_ht(0.1)}' END
            GROUP BY lang
        """,
        "c_chunks": r"""
            WITH w AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(coalesce(text, ''),
                                                       '\s+'),
                                 x -> x <> '') AS words
              FROM documents WHERE doc_id < 50
            ), c AS (
              SELECT doc_id, len(words) AS n, words,
                     unnest(generate_series(0, (len(words) - 1) // 30))
                       AS chunk_id
              FROM w WHERE len(words) > 0
            )
            SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
                   array_to_string(list_slice(words, chunk_id * 30 + 1,
                                              chunk_id * 30 + 40),
                                   ' ') AS chunk_text,
                   CAST(least(40, n - chunk_id * 30) AS INT)
                     AS chunk_n_words
            FROM c
        """,
        "c_tfidf_top": r"""
            WITH toks AS (
              SELECT doc_id, lower(t.term) AS term
              FROM documents,
                   unnest(list_filter(regexp_split_to_array(
                            coalesce(text, ''), '\s+'),
                          x -> x <> '')) AS t(term)
            ), td AS (
              SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
            ), st AS (
              SELECT term, CAST(sum(tf) AS BIGINT) AS tf,
                     count(*) AS df
              FROM td GROUP BY 1
            )
            SELECT term, tf, df,
                   round(round(tf * ln((SELECT count(*) FROM documents)
                                       / df), 6), 4) AS tfidf
            FROM st WHERE df >= 5
            ORDER BY round(tf * ln((SELECT count(*) FROM documents) / df),
                           6) DESC, term
            LIMIT 15
        """,
        "w_url_normalize": r"""
            WITH u AS (
              SELECT doc_id,
                     'HTTPS://WWW.Site' || CAST(doc_id % 7 AS VARCHAR)
                     || '.Example.COM'
                     || CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END
                     || '/Docs/' || CAST(doc_id AS VARCHAR)
                     || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN '#Frag' ELSE '' END
                       AS url
              FROM documents WHERE doc_id < 200
            ), s1 AS (
              SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u
              FROM u
            ), s2 AS (
              SELECT doc_id,
                CASE WHEN regexp_extract(u,
                       '^([A-Za-z][A-Za-z0-9+.-]*://)(?:[^/@?#]*@)?([^/:?#]+)',
                       2) <> ''
                THEN lower(regexp_extract(u,
                       '^([A-Za-z][A-Za-z0-9+.-]*://)(?:[^/@?#]*@)?([^/:?#]+)',
                       1))
                  || regexp_extract(u,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/@?#]*@)?', 1)
                  || lower(regexp_extract(u,
                       '^([A-Za-z][A-Za-z0-9+.-]*://)(?:[^/@?#]*@)?([^/:?#]+)',
                       2))
                  || regexp_replace(u,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?[^/:?#]+',
                       '')
                ELSE u END AS u2,
                lower(regexp_extract(u,
                  '^([A-Za-z][A-Za-z0-9+.-]*://)(?:[^/@?#]*@)?([^/:?#]+)',
                  2)) AS host
              FROM s1
            )
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(u2,
                         '^(http://(?:[^/@?#]*@)?[^/:?#]+):80([/?]|$)',
                         '\1\2'),
                       '^(https://(?:[^/@?#]*@)?[^/:?#]+):443([/?]|$)',
                       '\1\2'),
                     '/$', '') AS norm_url,
                   host
            FROM s2
        """,
        "w_host_blocklist": r"""
            WITH u AS (
              SELECT doc_id,
                     lower('www.site' || CAST(doc_id % 7 AS VARCHAR)
                           || '.example.com') AS host
              FROM documents WHERE doc_id < 200
            )
            SELECT host, count(*) AS n_docs FROM u
            WHERE host NOT IN ('www.site1.example.com',
                               'www.site4.example.com')
            GROUP BY host
        """,
        "w_line_dedup": """
            WITH base AS (
              SELECT doc_id, coalesce(text, '') AS t
              FROM documents WHERE doc_id < 300
            ), l AS (
              SELECT doc_id,
                     generate_subscripts(string_split(t, chr(10)), 1)
                       AS idx,
                     unnest(string_split(t, chr(10))) AS line
              FROM base
            ), freq AS (
              SELECT line FROM (
                SELECT line, count(DISTINCT doc_id) AS d
                FROM l WHERE trim(line) <> '' GROUP BY line
              ) WHERE d >= 3
            )
            SELECT b.doc_id, coalesce(k.clean, '') AS clean_text
            FROM base b LEFT JOIN (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY idx) AS clean
              FROM l WHERE line NOT IN (SELECT line FROM freq)
              GROUP BY doc_id
            ) k USING (doc_id)
        """,
        "t_ngram_repetition": r"""
            WITH w AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(coalesce(text, '')),
                                           '\s+') AS w
              FROM documents WHERE doc_id < 100
            ), g AS (
              SELECT doc_id,
                CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[]) ELSE
                  list_transform(generate_series(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i + 1]) END AS g2,
                CASE WHEN len(w) < 3 THEN CAST([] AS VARCHAR[]) ELSE
                  list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i + 1] || ' '
                                      || w[i + 2]) END AS g3
              FROM w
            )
            SELECT g.doc_id,
              round(CASE WHEN len(g2) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                               / len(g2) END, 6) AS dup2,
              round(CASE WHEN len(g3) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
                               / len(g3) END, 6) AS dup3,
              round(coalesce(t.top2, 0.0), 6) AS top2
            FROM g LEFT JOIN (
              SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top2
              FROM (
                SELECT doc_id, u.gram, count(*) AS c
                FROM g, unnest(g.g2) AS u(gram)
                GROUP BY doc_id, u.gram
              ) GROUP BY doc_id
            ) t USING (doc_id)
        """,
        "d_decontaminate": r"""
            WITH ev AS (
              SELECT regexp_split_to_array(trim(coalesce(text, '')),
                                           '\s+') AS w
              FROM documents WHERE doc_id < 10
            ), evsh AS (
              SELECT DISTINCT
                     array_to_string(list_slice(w, i + 1, i + 8), ' ')
                       AS sh
              FROM ev, unnest(generate_series(0, len(w) - 8)) AS t(i)
              WHERE len(w) >= 8
            ), tr AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(coalesce(text, '')),
                                           '\s+') AS w
              FROM documents WHERE doc_id >= 10 AND doc_id < 400
            ), trsh AS (
              SELECT DISTINCT doc_id,
                     array_to_string(list_slice(w, i + 1, i + 8), ' ')
                       AS sh
              FROM tr, unnest(generate_series(0, len(w) - 8)) AS t(i)
              WHERE len(w) >= 8
            )
            SELECT t.doc_id, coalesce(h.hit, FALSE) AS is_contaminated
            FROM tr t LEFT JOIN (
              SELECT DISTINCT doc_id, TRUE AS hit
              FROM trsh JOIN evsh USING (sh)
            ) h USING (doc_id)
        """,
        "c_components": """
            WITH RECURSIVE pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(
                        CAST(a.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])) >= 0.45
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ), reach(id, r) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.src, reach.r FROM edges e
              JOIN reach ON e.dst = reach.id
            )
            SELECT id AS vec_id, CAST(min(r) AS BIGINT) AS component
            FROM reach GROUP BY id
        """,
        "a17b_ks_many": f"""
            SELECT 'value' AS column, {_ks_window_sql('value')} AS ks
            UNION ALL
            SELECT 'user_id', {_ks_window_sql('user_id')}
        """,
        "d_embedding_near_dups": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])), 3) AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(
                      CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])) >= 0.45
        """,
        "j_ngram_jaccard": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
              FROM documents
              WHERE text IS NOT NULL AND length(trim(text)) > 0
            ), sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
              FROM toks WHERE len(w) >= 3
            ), p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / len(list_distinct(a.s || b.s)) AS jac
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, round(jac, 3) AS jac FROM p WHERE jac >= 0.5
        """,
        "dc_report_events": _dc_report_events_sql(),
        "fixdq_transform": _fixdq_transform_sql(),
        "dq_report_orders": _dq_report_orders_sql(),
        "t_fingerprints": _t_fingerprints_sql(),
        "schema_checker_events": _schema_checker_sql(),
        "w_running_revenue": """
            WITH r AS (
              SELECT o_custkey,
                     sum(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS running,
                     row_number() OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
                     ) AS rn
              FROM orders
            )
            SELECT o_custkey, round(running, 2) AS total_running
            FROM r WHERE rn = 1
        """,
        "q_rollup_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "f_scalar_fixes": """
            SELECT round(sum(least(l_extendedprice, 50000.0)), 2) AS cap_sum,
                   round(sum(ln(1 + l_quantity)), 2) AS log1p_sum
            FROM lineitem
        """,
        "f_rare_replace": """
            WITH f AS (
              SELECT o_orderpriority AS v,
                     count(*) OVER (PARTITION BY o_orderpriority) * 1.0
                       / count(*) OVER () AS freq
              FROM orders
            )
            SELECT CASE WHEN freq < 0.15 THEN 'Rare' ELSE v END AS val,
                   count(*) AS cnt
            FROM f GROUP BY 1
        """,
        "f_yeo_johnson": """
            SELECT round(sum((pow(l_quantity + 1.0, 0.5) - 1.0) / 0.5), 2) AS yj_sum
            FROM lineitem
        """,
        "dq_profile_lineitem": _dq_profile_sql(),
        "a9_mixed_types": _mixed_types_sql(),
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q3_segment_revenue": """
            SELECT c_mktsegment,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(DISTINCT o_orderkey) AS n_orders
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "q5_nation_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
                          JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "q_top_customers": """
            WITH t AS (
              SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spent
              FROM orders GROUP BY o_custkey
            )
            SELECT o_custkey, total_spent,
                   row_number() OVER (ORDER BY total_spent DESC, o_custkey) AS rnk
            FROM t QUALIFY rnk <= 5
        """,
        "a1_missing_counts": """
            SELECT CAST(sum(CASE WHEN value IS NULL OR isnan(value) THEN 1 ELSE 0 END) AS BIGINT) AS value_missing,
                   CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS props_missing,
                   count(*) AS n_rows
            FROM events
        """,
        "a2_distinct_counts": """
            SELECT count(DISTINCT o_custkey) AS d_custkey,
                   count(DISTINCT o_orderstatus) AS d_status,
                   count(DISTINCT o_orderpriority) AS d_priority
            FROM orders
        """,
        "a3_minmax": """
            SELECT min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
                   round(min(l_extendedprice), 2) AS min_price,
                   round(max(l_extendedprice), 2) AS max_price,
                   min(l_linenumber) AS min_ln, max(l_linenumber) AS max_ln
            FROM lineitem
        """,
        "a4_dup_count": """
            SELECT count(*) - count(DISTINCT text) AS dup_rows, count(*) AS n_rows
            FROM documents
        """,
        "a5_dedup_survivors": """
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
        """,
        "a7_value_counts": """
            SELECT o_orderpriority, count(*) AS cnt,
                   round(count(*) * 1.0 / (SELECT count(*) FROM orders WHERE o_orderpriority IS NOT NULL), 6) AS freq
            FROM orders WHERE o_orderpriority IS NOT NULL
            GROUP BY o_orderpriority
        """,
        "a10_outlier_counts": """
            WITH b AS (
              SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
                     quantile_cont(l_extendedprice, 0.75) AS q3
              FROM lineitem
            )
            SELECT CAST(sum(CASE WHEN l_extendedprice < q1 - 1.5*(q3-q1)
                               OR l_extendedprice > q3 + 1.5*(q3-q1)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                   round(min(q1), 6) AS q1, round(min(q3), 6) AS q3
            FROM lineitem, b
        """,
        "a10_outlier_nan": """
            WITH d AS (
              SELECT CASE WHEN event_id % 50 = 0 THEN 'NaN'::DOUBLE ELSE value END AS v
              FROM events
            ), b AS (
              SELECT quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3
              FROM d WHERE NOT isnan(v)
            )
            SELECT CAST(sum(CASE WHEN NOT isnan(v)
                               AND (v < q1 - 1.5*(q3-q1) OR v > q3 + 1.5*(q3-q1))
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                   CAST(sum(CASE WHEN isnan(v) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
                   round(min(q1), 6) AS q1, round(min(q3), 6) AS q3
            FROM d, b
        """,
        "a12_correlation": """
            SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
                   round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc
            FROM lineitem
        """,
        "a13_skewness": """
            SELECT round(skewness(value), 6) AS skew_value,
                   round(stddev_samp(value), 6) AS stddev_value
            FROM events
        """,
        "a14_class_balance": """
            SELECT o_orderstatus,
                   round(count(*) * 1.0 / (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL), 6) AS freq
            FROM orders WHERE o_orderstatus IS NOT NULL
            GROUP BY o_orderstatus
        """,
        "a17_ks_statistic": """
            WITH tagged AS (
              SELECT value AS v, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS t
              FROM events WHERE event_type IN ('click', 'error') AND value IS NOT NULL
            ), pv AS (
              SELECT v, sum(t) AS c1, sum(1 - t) AS c2 FROM tagged GROUP BY v
            ), tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM pv),
            cum AS (
              SELECT sum(c1) OVER (ORDER BY v) AS cc1,
                     sum(c2) OVER (ORDER BY v) AS cc2
              FROM pv
            )
            SELECT round(max(abs(cc1 * 1.0 / (SELECT n1 FROM tot)
                               - cc2 * 1.0 / (SELECT n2 FROM tot))), 6) AS ks
            FROM cum
        """,
        "a18_set_except": """
            SELECT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT s_nationkey AS nationkey FROM supplier
        """,
        "a19_id_zero_var": """
            SELECT 'c_custkey' AS column_name, count(DISTINCT c_custkey) AS n_distinct,
                   count(DISTINCT c_custkey) = count(*) AND count(*) - count(c_custkey) = 0 AS is_id,
                   count(DISTINCT c_custkey) = 1 AS is_const FROM customer
            UNION ALL
            SELECT 'c_name', count(DISTINCT c_name),
                   count(DISTINCT c_name) = count(*) AND count(*) - count(c_name) = 0,
                   count(DISTINCT c_name) = 1 FROM customer
            UNION ALL
            SELECT 'c_nationkey', count(DISTINCT c_nationkey),
                   count(DISTINCT c_nationkey) = count(*) AND count(*) - count(c_nationkey) = 0,
                   count(DISTINCT c_nationkey) = 1 FROM customer
            UNION ALL
            SELECT 'c_acctbal', count(DISTINCT c_acctbal),
                   count(DISTINCT c_acctbal) = count(*) AND count(*) - count(c_acctbal) = 0,
                   count(DISTINCT c_acctbal) = 1 FROM customer
            UNION ALL
            SELECT 'c_mktsegment', count(DISTINCT c_mktsegment),
                   count(DISTINCT c_mktsegment) = count(*) AND count(*) - count(c_mktsegment) = 0,
                   count(DISTINCT c_mktsegment) = 1 FROM customer
        """,
        "a22_strlen_stats": """
            SELECT lang, max(length(text)) AS max_len,
                   round(avg(length(text)), 6) AS avg_len
            FROM documents GROUP BY lang
        """,
        "a23_date_range": """
            SELECT CAST(min(year(ts)) AS INT) AS min_year,
                   CAST(max(year(ts)) AS INT) AS max_year,
                   CAST(sum(CASE WHEN year(ts) BETWEEN 1900 AND 2050 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_range
            FROM events
        """,
        "f_json_extract": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
            FROM events GROUP BY event_type
        """,
        "f_daily_counts": """
            SELECT CAST(ts AS DATE) AS day, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "t_token_counts": """
            SELECT lang,
                   CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY lang
        """,
        "t_quality_stats": """
            SELECT source,
                   round(avg(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) * 1.0 / length(text)), 6) AS avg_symbol_ratio,
                   round(avg(list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> length(x))) * 1.0
                             / len(regexp_split_to_array(trim(text), '\\s+'))), 6) AS avg_word_len
            FROM documents GROUP BY source
        """,
        "t_stopword_hits": """
            SELECT lang,
                   CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                            x -> list_contains(['the','of','and','to','in'], x)))) AS BIGINT) AS stop_hits
            FROM documents GROUP BY lang
        """,
        "t_line_stats": """
            SELECT CAST(sum(len(string_split(text, chr(10)))) AS BIGINT) AS total_lines,
                   CAST(sum(len(list_distinct(string_split(text, chr(10))))) AS BIGINT) AS distinct_lines
            FROM documents
        """,
        "w_quality_rule_counts": """
            WITH s AS (
              SELECT regexp_split_to_array(trim(text), '\\s+') AS words,
                     length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) * 1.0 / length(text) AS sym,
                     string_split(text, chr(10)) AS lines
              FROM documents
            ), s2 AS (
              SELECT len(words) AS n_words, sym,
                     len(list_filter(words, x -> list_contains(['the','of','and','to','in'], x))) * 1.0 / len(words) AS stopfrac,
                     1.0 - len(list_distinct(lines)) * 1.0 / len(lines) AS repfrac
              FROM s
            )
            SELECT CAST(sum(CASE WHEN n_words < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
                   CAST(sum(CASE WHEN sym > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol_heavy,
                   CAST(sum(CASE WHEN stopfrac < 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_stopword,
                   CAST(sum(CASE WHEN repfrac > 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated_lines
            FROM s2
        """,
        "s_cosine_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], qe), 5) AS sim
            FROM embeddings, q WHERE vec_id <> 0
            ORDER BY sim DESC, vec_id LIMIT 10
        """,
        "s_label_best_sim": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
            SELECT label,
                   round(max(list_cosine_similarity(embedding::DOUBLE[], qe)), 5) AS best_sim
            FROM embeddings, q WHERE vec_id <> 0
            GROUP BY label
        """,
    }
