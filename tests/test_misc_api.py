"""Small API-surface tests: html sink, infinity helper, feather scan."""

from __future__ import annotations

import numpy as np
import pandas as pd

import pandas_dq_spark as pdq


def test_write_to_html(spark, tmp_path):
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    rep = pdq.build_dq_report(spark.createDataFrame(pdf))
    path = rep.to_html(str(tmp_path / "rep.html"))
    content = open(path).read()
    assert "<table" in content and "DQ Issue" in content
    # generic DataFrame variant
    p2 = pdq.write_to_html(
        spark.createDataFrame(pdf), str(tmp_path / "df.html")
    )
    assert "<td>x</td>" in open(p2).read()


def test_styled_html_gradient(spark, tmp_path):
    # S8 inline-display analogue: background_gradient over Missing
    # Values% + Segoe UI font (pandas_dq.py:535-539)
    pdf = pd.DataFrame(
        {"full": [1.0, 2.0, 3.0, 4.0], "holey": [1.0, np.nan, np.nan, 4.0]}
    )
    rep = pdq.build_dq_report(spark.createDataFrame(pdf))
    path = rep.to_html(str(tmp_path / "styled.html"), styled=True)
    content = open(path).read()
    assert "Segoe UI" in content
    assert "background-color:rgb(255,255,255)" in content  # 0% missing
    assert "background-color:rgb(255,95,95)" in content  # max missing
    # unstyled render has neither
    plain = open(rep.to_html(str(tmp_path / "plain.html"))).read()
    assert "background-color" not in plain


def test_find_remove_columns_with_infinity(spark):
    pdf = pd.DataFrame(
        {
            "ok": [1.0, 2.0, 3.0],
            "has_inf": [1.0, np.inf, 2.0],
            "neg_inf": [-np.inf, 0.0, 1.0],
            "s": ["a", "b", "c"],
        }
    )
    sdf = spark.createDataFrame(pdf)
    cols = pdq.find_remove_columns_with_infinity(sdf)
    assert set(cols) == {"has_inf", "neg_inf"}
    out = pdq.find_remove_columns_with_infinity(sdf, remove=True)
    assert set(out.columns) == {"ok", "s"}
    # reference-name alias
    assert pdq.EDA_find_remove_columns_with_infinity(sdf) == cols


def test_feather_scan(spark, tmp_path):
    import pyarrow.feather as feather

    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    p = str(tmp_path / "t.feather")
    feather.write_feather(pdf, p)
    from pandas_dq_spark.sources.io import read_any

    out = read_any(spark, p)
    assert out.count() == 3 and out.columns == ["a", "b"]


def test_sample_cap_on_path_input(spark, tmp_path, capsys):
    # S5: a path input at/above the cap is profiled on a random sample
    # (thresholds lowered for test scale; DataFrame inputs never sample)
    p = str(tmp_path / "big.parquet")
    pdf = pd.DataFrame({"a": range(5000), "b": [float(i % 7) for i in range(5000)]})
    spark.createDataFrame(pdf).write.parquet(p)
    out = pdq.dq_report(p, spark=spark, sample_cap_rows=5000, sample_cap_n=500)
    rows = {r["column_name"]: r for r in out.collect()}
    captured = capsys.readouterr().out
    assert "Sample size = 500 rows" in captured
    # the ID check ran on ~500 sampled rows, still flags `a` as unique
    assert "Possible ID column" in rows["a"]["dq_issue"]
    # below the cap: full data, no alert
    out2 = pdq.dq_report(p, spark=spark, sample_cap_rows=10_000)
    assert "Sample size" not in capsys.readouterr().out
    assert out2.count() == 2
    # r4 exact auto-select: path inputs stay PARITY even when the
    # sample cap engages (the sample is already bounded, so the
    # engine-mode probe must not flip them)
    from pandas_dq_spark.operators import dq_report as dqmod

    calls = []
    orig = dqmod.build_dq_report

    def spy(df, **kw):
        calls.append(kw.get("exact"))
        return orig(df, **kw)

    try:
        dqmod.build_dq_report, saved = spy, dqmod.build_dq_report
        pdq.dq_report(p, spark=spark, sample_cap_rows=5000, sample_cap_n=500,
                      verbose=-1)
    finally:
        dqmod.build_dq_report = saved
    assert calls == [True]


def test_html_verbose_dispatch(spark, tmp_path, capsys, monkeypatch):
    # reference: html+verbose=0 writes the 2-row SUMMARY; html+verbose=1
    # writes the findings; no-html displays inline; verbose<0 silent
    # (pandas_dq.py:519-539)
    monkeypatch.chdir(tmp_path)
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    pdq.dq_report(df, html=True, verbose=0)
    html = open(tmp_path / "dq_report.html").read()
    assert "The Good News" in html and "The Bad News" in html
    assert "o_orderkey" not in html  # summary, not findings
    pdq.dq_report(df, html=True, verbose=1)
    html = open(tmp_path / "dq_report.html").read()
    assert "o_orderkey" in html
    capsys.readouterr()
    pdq.dq_report(df, verbose=0)
    out = capsys.readouterr().out
    assert "The Good News" in out
    pdq.dq_report(df, verbose=-1)
    assert "Good News" not in capsys.readouterr().out


def test_unsupported_extension_reference_parity(spark, capsys):
    # pandas_dq.py:108-111: print the exact message and return the
    # input unchanged; the library-level default raises instead
    import pytest

    from pandas_dq_spark.sources.io import read_any

    out = pdq.dq_report("somefile.xyz", spark=spark)
    assert out == "somefile.xyz"
    captured = capsys.readouterr().out
    assert (
        "    Unsupported file format. Please use CSV, parquet, feather or arrow."
        in captured
    )
    with pytest.raises(ValueError):
        read_any(spark, "somefile.xyz")
    assert read_any(spark, "somefile.xyz", on_unsupported="return_input") == "somefile.xyz"


def test_compare_unique_scale_guard(spark):
    # VERDICT r02 item 8: ~1M mostly-disjoint distinct values must
    # yield exact difference COUNTS without materializing the sets
    from pyspark.sql import functions as F

    from pandas_dq_spark import compare_unique

    a = spark.range(1_000_000).select(F.col("id").alias("k"))
    b = spark.range(900_000, 1_100_000).select(F.col("id").alias("k"))
    out = compare_unique(a, b, "k", max_collect=10_000)
    assert out["unique_count_in_df1"] == 1_000_000
    assert out["unique_count_in_df2"] == 200_000
    assert out["diff_count_df1_df2"] == 900_000
    assert out["diff_count_df2_df1"] == 100_000
    assert out["diff_between_df1_df2"] is None  # above cap: not collected
    assert out["diff_between_df2_df1"] is None
    # small differences still return the actual values
    small = compare_unique(
        spark.range(10).select(F.col("id").alias("k")),
        spark.range(5, 12).select(F.col("id").alias("k")),
        "k",
    )
    assert sorted(small["diff_between_df1_df2"]) == [0, 1, 2, 3, 4]
    assert sorted(small["diff_between_df2_df1"]) == [10, 11]
    assert small["diff_count_df1_df2"] == 5


def test_iceberg_surface(spark, tmp_path, monkeypatch):
    # config builder is pure; the runtime jar is absent here so
    # availability is False, table targets raise the explicit error,
    # and path targets route to the parquet dynamic-overwrite sink
    from pandas_dq_spark.sources.iceberg import (
        iceberg_available,
        iceberg_conf,
        write_pages,
    )

    conf = iceberg_conf("/tmp/wh", catalog="c1")
    assert conf["spark.sql.catalog.c1.warehouse"] == "/tmp/wh"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]
    assert iceberg_available(spark) is False
    df = spark.createDataFrame(
        pd.DataFrame({"url": ["a", "b"], "bucket": [0, 1]})
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="Iceberg runtime"):
        write_pages(df, "c1.db.pages", ["bucket"])
    sink = write_pages(df, str(tmp_path / "pages"), ["bucket"])
    assert sink == "parquet"
    assert spark.read.parquet(str(tmp_path / "pages")).count() == 2
    # a dotted FILENAME is a parquet path, not a catalog identifier
    assert write_pages(df, str(tmp_path / "plain.parquet"), ["bucket"]) == "parquet"
    assert spark.read.parquet(str(tmp_path / "plain.parquet")).count() == 2
    from pandas_dq_spark.sources.iceberg import _is_table_identifier

    assert _is_table_identifier("cat.db.pages")
    assert not _is_table_identifier("plain.parquet")
    assert not _is_table_identifier("dir/with.dots/x")
    assert not _is_table_identifier("out.feather")
    assert not _is_table_identifier("nodots")
    # ADVICE r02: dotted filenames with unknown extensions are paths
    assert not _is_table_identifier("out.backup")
    assert not _is_table_identifier("data.v2")
    assert not _is_table_identifier("a.b.c.d")  # too many segments
    assert write_pages(df, str(tmp_path / "out.backup"), ["bucket"]) == "parquet"


def test_csv_scan(spark, tmp_path):
    p = str(tmp_path / "t.csv")
    pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_csv(p, index=False)
    from pandas_dq_spark.sources.io import read_any

    out = read_any(spark, p)
    assert out.count() == 2 and out.columns == ["a", "b"]


def test_write_training_shards_roundtrip(spark, tmp_path):
    """r5: sharded JSONL export — deterministic hash sharding, exact
    round-trip through spark.read.json."""
    import json

    from pyspark.sql import functions as F

    from pandas_dq_spark.sources.io import write_training_shards

    df = spark.range(500).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.concat(F.lit("text "), F.col("id")).alias("chunk_text"),
        (F.col("id") % 7).alias("seq_id"),
    )
    out = str(tmp_path / "shards")
    n_shards = write_training_shards(df, out, docs_per_shard=100, key_col="url")
    assert n_shards == 5

    back = spark.read.json(out)
    assert back.count() == 500
    got = {r["url"]: (r["chunk_text"], r["seq_id"]) for r in back.collect()}
    assert got["u7"] == ("text 7", 0)
    assert len(got) == 500

    # deterministic: re-export places identical rows per shard file set
    import glob
    import gzip

    def shard_map(p):
        m = {}
        for f in sorted(glob.glob(f"{p}/part-*")):
            opener = gzip.open if f.endswith(".gz") else open
            with opener(f, "rt") as fh:
                for line in fh:
                    m[json.loads(line)["url"]] = f.split("/")[-1].split("-")[1]
        return m
    a = shard_map(out)
    out2 = str(tmp_path / "shards2")
    write_training_shards(df, out2, docs_per_shard=100, key_col="url")
    b = shard_map(out2)
    assert a == b


def test_ensure_min_parallelism_probe_failure_returns_input():
    """Any failing step of the partition/size probe is a no-op: the
    input comes back unchanged instead of raising or repartitioning."""
    from pandas_dq_spark.session import ensure_min_parallelism

    class NoRdd:  # .rdd raises (e.g. no RDD API on the session)
        @property
        def rdd(self):
            raise RuntimeError("RDD API unavailable")

    class _OnePartition:
        @staticmethod
        def getNumPartitions():
            return 1

    class NoPlanStats:  # narrow input, but the private plan stats raise
        rdd = _OnePartition()

        @property
        def _jdf(self):
            raise AttributeError("no JVM plan")

    for df in (NoRdd(), NoPlanStats()):
        assert ensure_min_parallelism(df, target=8) is df
