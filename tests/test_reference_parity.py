"""Ground-truth parity: run the ACTUAL reference
(/root/reference/pandas_dq.py, loaded read-only via reference_shim) on
the messy fixture and assert the engine's Spark output matches it
table-exactly — issue strings byte-for-byte, fitted state, drop lists,
transformed cells (SURVEY.md §5.2 item 1; pandas_dq.py:51-542,
659-1058, 1199-1362, 1364-1625).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandas_dq_spark import FixDQ, classify_columns, dc_report
from pandas_dq_spark.operators.dq_report import build_dq_report

from .fixtures import messy_pdf, messy_sdf
from .reference_shim import REFERENCE_PATH, load_reference


@pytest.fixture(scope="module")
def ref():
    # every test that runs the reference skips without it; the
    # engine-semantics test in this module needs no reference and runs
    if not os.path.exists(REFERENCE_PATH):
        pytest.skip(f"reference implementation not present at {REFERENCE_PATH}")
    return load_reference()


@pytest.fixture(scope="module")
def frames(spark):
    sdf, pdf = messy_sdf(spark)
    return sdf, pdf


# ---------------------------------------------------------------- dq_report


def _ref_dq(ref, pdf, target=None):
    rep = ref.dq_report(pdf, target=target, verbose=0)
    assert list(rep.columns) == [
        "Data Type",
        "Missing Values%",
        "Unique Values%",
        "Minimum Value",
        "Maximum Value",
        "DQ Issue",
    ]
    return rep


def _cell_str(v) -> str:
    """Render a reference min/max cell the way the engine does."""
    if isinstance(v, str):
        return v
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        return str(float(v))
    return str(int(v))


def test_dq_report_parity(ref, spark, frames):
    sdf, pdf = frames
    ref_rep = _ref_dq(ref, pdf)
    eng = build_dq_report(sdf)
    assert list(ref_rep.index) == eng.columns
    for c in eng.columns:
        r = ref_rep.loc[c]
        assert eng.issues[c] == r["DQ Issue"], c
        assert eng.data_type[c] == str(r["Data Type"]), c
        assert eng.missing_pct[c] == pytest.approx(float(r["Missing Values%"])), c
        assert str(eng.unique_pct[c]) == str(r["Unique Values%"]), c
        assert eng.min_val[c] == _cell_str(r["Minimum Value"]), c
        assert eng.max_val[c] == _cell_str(r["Maximum Value"]), c


def test_dq_report_parity_with_target(ref, spark, frames):
    sdf, pdf = frames
    ref_rep = _ref_dq(ref, pdf, target="target_cls")
    eng = build_dq_report(sdf, target="target_cls")
    for c in eng.columns:
        assert eng.issues[c] == ref_rep.loc[c, "DQ Issue"], c


def test_dq_report_parity_nan_outlier(ref, spark):
    # NaN+outlier float column: ADVICE r01 high — the reference counts
    # only the true outlier, NaN comparisons are False in pandas
    pdf = pd.DataFrame(
        {
            "v": [1.0, 2.0, 1.5, 2.5, 1.2, 2.2, 1.7, 60.0, np.nan, np.nan],
            "w": list(range(10)),
        }
    )
    ref_rep = _ref_dq(ref, pdf)
    eng = build_dq_report(spark.createDataFrame(pdf))
    for c in eng.columns:
        assert eng.issues[c] == ref_rep.loc[c, "DQ Issue"], c
        assert eng.min_val[c] == _cell_str(ref_rep.loc[c, "Minimum Value"]), c
        assert eng.max_val[c] == _cell_str(ref_rep.loc[c, "Maximum Value"]), c


def test_dq_report_parity_minmax_dtypes(ref, spark):
    # int-only (stays int64), int+string (join upcast to float64) and
    # bool+int (bool coerced to 0/1) min/max rendering
    cases = [
        pd.DataFrame({"i": [1, 2, 3, 4, 500], "j": [10, 20, 30, 40, 50]}),
        pd.DataFrame({"i": [1, 2, 3, 4, 500], "s": list("abcde")}),
        pd.DataFrame({"b": [True, False, True, False, True], "i": [1, 2, 3, 4, 5]}),
        # bool-only eligible set + ineligible col: pandas upcasts the
        # joined column to OBJECT (not float64) -> True/False survive
        pd.DataFrame({"b": [True, False, True, False, True], "s": list("abcde")}),
        pd.DataFrame(
            {"b": [True, False, True, False, True], "i": [1, 2, 3, 4, 5], "s": list("abcde")}
        ),
        pd.DataFrame(
            {"b": [True, False, True, False, True], "f": [1.5, 2.5, 3.5, 4.5, 5.5], "s": list("abcde")}
        ),
    ]
    for pdf in cases:
        ref_rep = _ref_dq(ref, pdf)
        eng = build_dq_report(spark.createDataFrame(pdf))
        for c in eng.columns:
            assert eng.min_val[c] == _cell_str(ref_rep.loc[c, "Minimum Value"]), (
                list(pdf.columns),
                c,
            )
            assert eng.max_val[c] == _cell_str(ref_rep.loc[c, "Maximum Value"]), (
                list(pdf.columns),
                c,
            )


def test_dq_report_parity_duplicate_columns(ref, spark):
    # the reference's dup-column "drop" (pandas_dq.py:134) KEEPS only
    # the 2nd+ occurrences of duplicated names — the report covers the
    # SECOND `a` only.  Reproduce the quirk end-to-end.
    pdf = pd.DataFrame(
        [[1, 2, 3], [4, 5, 6], [7, 8, 9], [1, 5, 9]], columns=["a", "b", "a"]
    )
    ref_rep = _ref_dq(ref, pdf)
    sdf = spark.createDataFrame(
        pd.DataFrame(pdf.to_numpy(), columns=["a", "b", "a2"])
    ).select(F.col("a"), F.col("b"), F.col("a2").alias("a"))
    eng = build_dq_report(sdf)
    assert eng.columns == list(ref_rep.index) == ["a"]
    assert eng.issues["a"] == ref_rep.loc["a", "DQ Issue"]
    assert eng.min_val["a"] == _cell_str(ref_rep.loc["a", "Minimum Value"])
    assert eng.max_val["a"] == _cell_str(ref_rep.loc["a", "Maximum Value"])
    assert str(eng.unique_pct["a"]) == str(ref_rep.loc["a", "Unique Values%"])
    from pandas_dq_spark.operators.dq_report import BAD

    assert (
        "There are 1 duplicate columns in the dataset. De-Dup Index(['a'], dtype='object') using Fix_DQ."
        in eng.summary[BAD]
    )


# ---------------------------------------------------------------- Fix_DQ


def test_fix_dq_fitted_state_parity(ref, spark, frames):
    sdf, pdf = frames
    rf = ref.Fix_DQ()
    rf.fit(pdf)
    ef = FixDQ()
    ef.fit(sdf)
    st = ef.state

    assert set(st.drop_cols_) == set(rf.drop_cols_)
    assert set(st.missing_cols_) == set(rf.missing_cols_)
    assert set(st.upper_bounds_) == set(rf.upper_bounds_)
    for c, ub in rf.upper_bounds_.items():
        assert st.upper_bounds_[c] == pytest.approx(float(ub), rel=1e-9), c
    # transformer dispatch parity: reference dispatches on class name
    # (pandas_dq.py:860); engine stores ("log1p"|"yeo-johnson", params)
    name_map = {"log1p": "FunctionTransformer", "yeo-johnson": "PowerTransformer"}
    ref_kinds = {
        c: str(t).split("(")[0] for c, t in rf.col_transformers_.items()
    }
    eng_kinds = {c: name_map[t[0]] for c, t in st.col_transformers_.items()}
    assert eng_kinds == ref_kinds


def test_fix_dq_transform_parity(ref, spark, frames):
    sdf, pdf = frames
    ref_out = ref.Fix_DQ().fit(pdf).transform(pdf)
    eng_out = FixDQ().fit(sdf).transform(sdf).toPandas()

    assert list(eng_out.columns) == list(ref_out.columns)
    sort_cols = [
        c
        for c in ref_out.columns
        if ref_out[c].dtype.kind == "f" and ref_out[c].nunique() == len(ref_out)
    ][:3]
    assert sort_cols, "need unique float sort keys for row alignment"
    r = ref_out.sort_values(sort_cols).reset_index(drop=True)
    e = eng_out.sort_values(sort_cols).reset_index(drop=True)
    for c in ref_out.columns:
        if r[c].dtype.kind == "f":
            np.testing.assert_allclose(
                e[c].to_numpy(dtype=float),
                r[c].to_numpy(dtype=float),
                rtol=1e-9,
                atol=1e-12,
                err_msg=c,
            )
        else:
            assert e[c].astype(str).tolist() == r[c].astype(str).tolist(), c


def test_fix_dq_transform_parity_rare_threshold(ref, spark):
    # rare-threshold + denominator semantics on a no-missing frame
    # (the reference's cat-impute path itself crashes on pandas>=2:
    # pandas_dq.py:733 assigns a 2-D object `.values` array — so the
    # missing-cat case is covered by the engine-only test below)
    n = 400
    cat = ["common"] * 390 + ["scarce"] * 3 + ["seven"] * 7
    pdf = pd.DataFrame(
        {
            "cat": cat,
            "x": np.linspace(0.0, 1.0, n) + 0.001,
        }
    )
    ref_out = ref.Fix_DQ(rare_threshold=0.02).fit(pdf).transform(pdf)
    eng_out = (
        FixDQ(rare_threshold=0.02)
        .fit(spark.createDataFrame(pdf))
        .transform(spark.createDataFrame(pdf))
        .toPandas()
    )
    r = ref_out.sort_values("x").reset_index(drop=True)
    e = eng_out.sort_values("x").reset_index(drop=True)
    # 'scarce' (3/400 = 0.75%) rare; 'seven' (7/400 = 1.75%) rare at 2%
    assert set(r["cat"]) == {"common", "Rare"}
    assert e["cat"].tolist() == r["cat"].tolist()
    np.testing.assert_allclose(e["x"].to_numpy(), r["x"].to_numpy(), rtol=1e-9)


def test_fix_dq_rare_after_impute_engine_semantics(spark):
    # reference semantics derived from code (pandas_dq.py:1039 impute
    # THEN 1052 group_rare_categories): the fill value participates in
    # value_counts and the denominator is all deduped rows.  Here the
    # imputed 'missing' value lands at 7/400 = 1.75% < 2% -> 'Rare',
    # and 'scarce' at 3/400 -> 'Rare'.  (Not runnable on the actual
    # reference under pandas>=2, see test above.)
    n = 400
    cat = ["common"] * 390 + ["scarce"] * 3 + [None] * 7
    pdf = pd.DataFrame(
        {
            "cat": cat,
            "x": np.linspace(0.0, 1.0, n) + 0.001,
        }
    )
    eng_out = (
        FixDQ(rare_threshold=0.02)
        .fit(spark.createDataFrame(pdf))
        .transform(spark.createDataFrame(pdf))
        .toPandas()
    )
    assert set(eng_out["cat"]) == {"common", "Rare"}
    assert (eng_out["cat"] == "Rare").sum() == 10
    # at a threshold below the fill share, the imputed value SURVIVES
    eng2 = (
        FixDQ(rare_threshold=0.012)
        .fit(spark.createDataFrame(pdf))
        .transform(spark.createDataFrame(pdf))
        .toPandas()
    )
    assert set(eng2["cat"]) == {"common", "missing", "Rare"}
    assert (eng2["cat"] == "missing").sum() == 7


def test_fix_dq_transform_parity_nondefault_params(ref, spark, frames):
    # quantile=None disables capping entirely (pandas_dq.py:1043-1045);
    # dict num_fill_value falls back to -999 for unlisted columns
    # (pandas_dq.py:744-746)
    sdf, pdf = frames
    kwargs = dict(
        quantile=None,
        num_fill_value={"num_missing": 7.5},
        rare_threshold=0.02,
        correlation_threshold=0.95,
    )
    ref_out = ref.Fix_DQ(**kwargs).fit(pdf).transform(pdf)
    eng_out = FixDQ(**kwargs).fit(sdf).transform(sdf).toPandas()
    assert list(eng_out.columns) == list(ref_out.columns)
    sort_cols = [
        c
        for c in ref_out.columns
        if ref_out[c].dtype.kind == "f" and ref_out[c].nunique() == len(ref_out)
    ][:3]
    r = ref_out.sort_values(sort_cols).reset_index(drop=True)
    e = eng_out.sort_values(sort_cols).reset_index(drop=True)
    for c in ref_out.columns:
        if r[c].dtype.kind == "f":
            np.testing.assert_allclose(
                e[c].to_numpy(dtype=float),
                r[c].to_numpy(dtype=float),
                rtol=1e-9,
                atol=1e-12,
                err_msg=c,
            )
        else:
            assert e[c].astype(str).tolist() == r[c].astype(str).tolist(), c


def test_fix_dq_fit_parity_tighter_quantile(ref, spark, frames):
    # different quantile moves every fitted upper bound; both engines
    # must move identically (linear-interpolation percentile parity)
    sdf, pdf = frames
    rf = ref.Fix_DQ(quantile=0.75)
    rf.fit(pdf)
    ef = FixDQ(quantile=0.75)
    ef.fit(sdf)
    assert set(ef.state.upper_bounds_) == set(rf.upper_bounds_)
    for c, ub in rf.upper_bounds_.items():
        assert ef.state.upper_bounds_[c] == pytest.approx(float(ub), rel=1e-9), c


# ---------------------------------------------------------- classify_columns


def test_classify_columns_parity(ref, spark, frames):
    sdf, pdf = frames
    ref_roles = ref.classify_columns(pdf, verbose=0)
    eng_roles = classify_columns(sdf)
    assert set(eng_roles) == set(ref_roles)
    for k in ref_roles:
        assert sorted(eng_roles[k]) == sorted(ref_roles[k]), k


def test_compare_unique_parity(ref, spark, frames):
    sdf, pdf = frames
    a_p, b_p = pdf.iloc[:1500], pdf.iloc[1500:]
    ref_out = ref.compare_unique(a_p, b_p, "cat_rare")
    from pandas_dq_spark import compare_unique

    eng_out = compare_unique(
        spark.createDataFrame(a_p), spark.createDataFrame(b_p), "cat_rare"
    )
    assert eng_out["unique_count_in_df1"] == ref_out["unique_count_in_df1"]
    assert eng_out["unique_count_in_df2"] == ref_out["unique_count_in_df2"]
    assert sorted(eng_out["diff_between_df1_df2"]) == sorted(
        ref_out["diff_between_df1_df2"]
    )
    assert sorted(eng_out["diff_between_df2_df1"]) == sorted(
        ref_out["diff_between_df2_df1"]
    )


def test_schema_checker_parity(ref, spark):
    # same schema dict against both checkers: identical error rows
    # (byte-for-byte mismatch strings) and identical coerced dtypes
    from pandas_dq_spark import DataSchemaChecker

    pdf = pd.DataFrame(
        {
            "a": [1, 2, 3],
            "b": [1.5, 2.5, 3.5],
            "c": ["2024-01-01", "2024-01-02", "2024-01-03"],
            "d": ["x", "y", "z"],
        }
    )
    schema = {"a": "float64", "b": "float", "c": "date", "d": "string"}
    rc = ref.DataSchemaChecker(schema)
    ref_out = rc.fit(pdf).transform(pdf)
    eng = DataSchemaChecker(schema)
    sdf = spark.createDataFrame(pdf)
    eng_out = eng.fit(sdf).transform(sdf)
    # error rows: same columns flagged with the same message text
    ref_errs = {r["column"]: r["data_dtype_mismatch"] for _, r in rc.error_df_.iterrows()}
    eng_errs = {r[0]: r[3] for r in eng.error_df_.rows}
    assert set(eng_errs) == set(ref_errs)
    for c in ref_errs:
        assert eng_errs[c] == ref_errs[c], c
    # coerced values match (date column compared as timestamps)
    got = eng_out.toPandas().sort_values("a").reset_index(drop=True)
    exp = ref_out.sort_values("a").reset_index(drop=True)
    assert got["a"].tolist() == exp["a"].tolist()
    assert [str(v) for v in got["c"]] == [str(v) for v in exp["c"]]
    assert str(exp["a"].dtype) == "float64" and str(got["a"].dtype) == "float64"


# ---------------------------------------------------------------- dc_report


def test_dc_report_parity(ref, spark):
    pdf = messy_pdf()
    train_p, test_p = pdf.iloc[:1200].reset_index(drop=True), pdf.iloc[
        1200:
    ].reset_index(drop=True)
    ref_rep = ref.dc_report(train_p, test_p, verbose=1)
    eng_rep = dc_report(
        spark.createDataFrame(train_p), spark.createDataFrame(test_p), verbose=1
    ).toPandas()
    eng_rep = eng_rep.set_index("column_name")
    ref_idx = ref_rep.set_index("Column Name")
    # reference column labels carry a _Train/_Test suffix (1273-1276)
    for c in eng_rep.index:
        rr = ref_idx.loc[c]
        assert eng_rep.loc[c, "dq_issue_train"] == rr["DQ Issue_Train"], c
        assert eng_rep.loc[c, "dq_issue_test"] == rr["DQ Issue_Test"], c
        assert eng_rep.loc[c, "minimum_value_train"] == _cell_str(
            rr["Minimum Value_Train"]
        ), c
        assert eng_rep.loc[c, "maximum_value_test"] == _cell_str(
            rr["Maximum Value_Test"]
        ), c
        ref_dd = rr["Distribution Difference"]
        eng_dd = eng_rep.loc[c, "distribution_difference"]
        if ref_dd is None or (isinstance(ref_dd, float) and np.isnan(ref_dd)) or ref_dd == "":
            assert eng_dd in (None, ""), (c, eng_dd)
        else:
            assert eng_dd == ref_dd, c
