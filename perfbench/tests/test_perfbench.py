"""The benchmark's own tests: seeded inputs are reproducible, and every
checker rejects a deliberately corrupted output.  No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import io
import os
import re
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402


def _parquet_bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_same_seed_same_input_bytes():
    a, ta = gen.crawl_pages(400, 7)
    b, tb = gen.crawl_pages(400, 7)
    c, _ = gen.crawl_pages(400, 8)
    assert _parquet_bytes(a) == _parquet_bytes(b)
    assert _parquet_bytes(a) != _parquet_bytes(c)
    pd.testing.assert_frame_equal(ta, tb)
    a, ta = gen.train_pages(400, 7)
    b, tb = gen.train_pages(400, 7)
    assert _parquet_bytes(a) == _parquet_bytes(b)
    pd.testing.assert_frame_equal(ta, tb)
    x, mx, _ = gen.tabular(3000, 7)
    y, my, _ = gen.tabular(3000, 7)
    pd.testing.assert_frame_equal(x, y)
    assert (mx == my).all()


def test_epochs_differ_only_in_fresh_numbers():
    a, ta = gen.crawl_pages(1500, 4, epoch=1)
    b, tb = gen.crawl_pages(1500, 4, epoch=2)
    for col in ("url", "warc_ts", "lang"):
        assert a.column(col).equals(b.column(col))
    pd.testing.assert_frame_equal(ta, tb)
    warm = set(gen.warm_words())
    toks_a = {w for t in a.column("text").to_pylist() for w in t.split()}
    toks_b = {w for t in b.column("text").to_pylist() for w in t.split()}
    pii = {v for v in ta["pii"] if v is not None}
    fresh_a = {w for w in toks_a - warm - pii if re.fullmatch(r"\$?[0-9.]+", w)}
    assert len(fresh_a) == ta.attrs["fresh_words"] > 0
    assert not fresh_a & toks_b
    # apart from the numbers, the planted PII and the words around it,
    # every token is warm
    rest = toks_a - warm - fresh_a - pii
    assert not any(re.search(r"[0-9]", w) for w in rest - {"user"}), rest


def test_generated_truth_is_consistent():
    table, truth = gen.crawl_pages(2000, 3)
    text = table.column("text").to_pylist()
    pii = truth["pii"].tolist()
    assert all(v in t for v, t in zip(pii, text) if v is not None)
    assert 0.05 < truth["pii"].notna().mean() < 0.15
    assert truth["is_dup"].sum() > 0
    _, ttruth = gen.train_pages(1000, 3)
    members = ttruth[ttruth["cluster"] >= 0]
    assert len(members) > 0 and members["jaccard"].min() > 0.7
    assert not any(re.search(r"\d", t) for t in ttruth["clean"])


# ------------------------------------------------------------ crawl


@pytest.fixture(scope="module")
def crawl():
    table, truth = gen.crawl_pages(1500, 5)
    text = table.column("text").to_pylist()
    n_words = [len(t.split()) for t in text]
    out = pd.DataFrame({"url": truth["url"], "is_dup": truth["is_dup"],
                        "n_issues": [0 if n >= 50 else 1 for n in n_words],
                        "lang_pred": truth["lang"], "n_words": n_words})
    out["keep"] = out["n_issues"] == 0
    has = truth["pii"].notna()
    pii_out = pd.DataFrame({
        "url": truth.loc[has, "url"],
        "scrubbed_text": [t.replace(v, "<PII>") for t, v in
                          zip(np.array(text, dtype=object)[has.to_numpy()],
                              truth.loc[has, "pii"])],
        "pii_hits": 1})
    sample = pd.DataFrame({"url": truth["url"], "text": text, "n_words": n_words})
    return out, truth, pii_out, sample


def test_check_crawl_accepts_correct_output(crawl):
    out, truth, pii_out, sample = crawl
    assert checks.check_crawl(out, len(truth), truth, pii_out, sample) == []


def test_check_crawl_rejects_flipped_is_dup(crawl):
    out, truth, pii_out, sample = crawl
    bad = out.copy()
    bad.loc[3, "is_dup"] = not bad.loc[3, "is_dup"]
    assert any("is_dup" in p for p in checks.check_crawl(bad, len(truth), truth,
                                                         pii_out, sample))


def test_check_crawl_rejects_surviving_pii(crawl):
    out, truth, pii_out, sample = crawl
    bad = pii_out.copy()
    v = truth.set_index("url").loc[bad["url"].iloc[0], "pii"]
    bad.iloc[0, bad.columns.get_loc("scrubbed_text")] += " " + v
    assert any("PII survives" in p for p in checks.check_crawl(out, len(truth), truth,
                                                               bad, sample))


def test_check_crawl_rejects_wrong_counts_and_verdicts(crawl):
    out, truth, pii_out, sample = crawl
    bad = sample.copy()
    bad.loc[5, "n_words"] += 1
    assert any("n_words" in p for p in checks.check_crawl(out, len(truth), truth,
                                                          pii_out, bad))
    bad = out.copy()
    bad.loc[7, "keep"] = not bad.loc[7, "keep"]
    assert any("keep" in p for p in checks.check_crawl(bad, len(truth), truth,
                                                       pii_out, sample))
    assert any("manifest" in p for p in checks.check_crawl(out, len(truth) - 1, truth,
                                                           pii_out, sample))
    assert any("output rows" in p for p in checks.check_crawl(out.iloc[1:], len(truth),
                                                              truth, pii_out, sample))


# ------------------------------------------------------------ train


@pytest.fixture(scope="module")
def train():
    _, truth = gen.train_pages(600, 5)
    step = 128 - 16
    rows = []
    for u, clean in zip(truth["canonical"], truth["clean"]):
        w = clean.split()
        for cid, start in enumerate(range(0, len(w), step)):
            part = w[start:start + 128]
            rows.append((u, cid, " ".join(part), len(part)))
    chunks = pd.DataFrame(rows, columns=["url", "chunk_id", "chunk_text", "chunk_n_words"])
    chunks["pack_bucket"] = 0
    chunks["seq_id"] = np.arange(len(chunks))
    chunks["seq_n_words"] = chunks["chunk_n_words"]
    return chunks, truth


def test_check_train_accepts_correct_output(train):
    chunks, truth = train
    assert checks.check_train(chunks, truth, 128, 16, 512) == []


def test_check_train_rejects_bad_chunks(train):
    chunks, truth = train
    bad = chunks[chunks["url"] != truth["canonical"].iloc[0]]
    assert any("removed" in p for p in checks.check_train(bad, truth, 128, 16, 512))
    bad = chunks.copy()
    bad.loc[0, "chunk_text"] = bad.loc[0, "chunk_text"].replace(" ", "  x ", 1)
    assert any("window" in p for p in checks.check_train(bad, truth, 128, 16, 512))
    bad = chunks.copy()
    bad.loc[1, "seq_n_words"] = 513
    assert any("budget" in p for p in checks.check_train(bad, truth, 128, 16, 512))


def test_check_near_dup(train):
    _, truth = train
    members = truth[truth["cluster"] >= 0]
    removed = set()
    for _, g in members.groupby("cluster"):
        removed |= set(sorted(g["canonical"])[1:])
    assert checks.check_near_dup(removed, truth) == []
    solo = truth.loc[truth["cluster"] < 0, "canonical"].iloc[0]
    assert any("outside" in p for p in checks.check_near_dup(removed | {solo}, truth))
    assert any("recall" in p for p in checks.check_near_dup(set(), truth))


def test_check_urls_rejects_unanchored_port_strip():
    def regex_normalise(u: str) -> str:  # the shape of the known fault
        return re.sub(r":(?:80|443)([/?]|$)", r"\1", u.replace("H.example", "h.example"))

    good = [gen.canonical_url(u) for u in gen.PORT_IN_PATH_URLS]
    assert checks.check_urls(gen.PORT_IN_PATH_URLS, good) == []
    bad = [regex_normalise(u) for u in gen.PORT_IN_PATH_URLS]
    assert checks.check_urls(gen.PORT_IN_PATH_URLS, bad)


# ------------------------------------------------------------ tabular


@pytest.fixture(scope="module")
def tab():
    df, train_mask, _ = gen.tabular(20_000, 5)
    dedup = df.drop_duplicates()
    issues = []
    for c in df.columns:
        parts = []
        m = int(dedup[c].isna().sum())
        if m:
            parts.append(f"{m} missing values. Impute them.")
        if c in ("amount", "amount_x2", "score", "qty"):
            k = checks.iqr_outliers(dedup[c].to_numpy(dtype=float))
            parts.append(f"Column has {k} outliers greater than upper bound.")
        issues.append(", ".join(parts) or "No issue")
    findings = pd.DataFrame({"column_name": df.columns, "dq_issue": issues})
    summary = f"The Bad News: There are {int(df.duplicated().sum())} duplicate rows"
    ks = checks.ks_statistic(df.loc[train_mask, "score"].to_numpy(),
                             df.loc[~train_mask, "score"].to_numpy())
    dc = pd.DataFrame({"column_name": ["score"], "distribution_difference": [
        f"The distributions of score are different with a KS test statistic of {ks:.3f}. "]})
    rows = len(df) - int(df.duplicated().sum())
    return findings, summary, dc, rows, df, train_mask


def test_check_tabular_accepts_correct_output(tab):
    findings, summary, dc, rows, df, mask = tab
    assert checks.check_tabular(findings, summary, dc, rows, {"amount": 0}, df, mask,
                                "score") == []


def test_check_tabular_rejects_off_by_one(tab):
    findings, summary, dc, rows, df, mask = tab
    bad = findings.copy()
    i = bad.index[bad["column_name"] == "amount"][0]
    bad.loc[i, "dq_issue"] = re.sub(r"(\d+) missing", lambda m: f"{int(m[1]) + 1} missing",
                                    bad.loc[i, "dq_issue"])
    assert any("missing" in p for p in checks.check_tabular(
        bad, summary, dc, rows, {}, df, mask, "score"))
    bad_summary = re.sub(r"(\d+) duplicate", lambda m: f"{int(m[1]) - 1} duplicate", summary)
    assert any("duplicate rows" in p for p in checks.check_tabular(
        findings, bad_summary, dc, rows, {}, df, mask, "score"))
    bad_dc = dc.assign(distribution_difference="KS test statistic of 0.999")
    assert any("KS" in p for p in checks.check_tabular(
        findings, summary, bad_dc, rows, {}, df, mask, "score"))
    assert any("rows" in p for p in checks.check_tabular(
        findings, summary, dc, rows + 1, {}, df, mask, "score"))
    assert any("nulls" in p for p in checks.check_tabular(
        findings, summary, dc, rows, {"amount": 1}, df, mask, "score"))


def test_ks_statistic_matches_definition():
    rng = np.random.default_rng(0)
    x, y = rng.normal(0, 1, 500), rng.normal(0.3, 1, 400)
    grid = np.concatenate([x, y])
    brute = max(abs((x <= g).mean() - (y <= g).mean()) for g in grid)
    assert checks.ks_statistic(x, y) == pytest.approx(brute)
