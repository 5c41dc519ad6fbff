"""Output checkers.  Each takes the program's collected outputs and the
generator's truth, recomputes what it needs with pandas/numpy/urllib
(never with the program), and returns a list of problems; an empty
list means the outputs are correct."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from gen import canonical_url

# near-duplicate clusters must collapse at least this well: the share
# of non-survivor cluster members that the MinHash stage removes
# (64 hashes in 16 bands, threshold 0.7; members' true shingle Jaccard
# to their cluster seed is 0.78-0.92)
NEAR_DUP_RECALL = 0.95


def _first(problems: list[str], label: str, bad: pd.Series | np.ndarray, what) -> None:
    bad = np.asarray(bad, dtype=bool)
    if bad.any():
        problems.append(f"{label}: {int(bad.sum())} rows, e.g. {what[bad][:3].tolist()}")


def check_crawl(out: pd.DataFrame, manifest_docs: int, truth: pd.DataFrame,
                pii_out: pd.DataFrame, sample: pd.DataFrame) -> list[str]:
    """``out``: (url, is_dup, keep, n_issues, lang_pred, n_words) for
    every output row; ``pii_out``: (url, scrubbed_text, pii_hits) for
    the planted-PII pages; ``sample``: (url, text, n_words)."""
    p: list[str] = []
    if len(out) != len(truth):
        p.append(f"output rows {len(out)} != input rows {len(truth)}")
    if manifest_docs != len(truth):
        p.append(f"manifest n_docs {manifest_docs} != input rows {len(truth)}")
    m = truth.merge(out, on="url", how="left", suffixes=("", "_out"), indicator=True)
    _first(p, "input url missing from output", m["_merge"] != "both", m["url"])
    m = m[m["_merge"] == "both"]
    _first(p, "is_dup differs from planted duplicates",
           m["is_dup"].to_numpy() != m["is_dup_out"].astype(bool).to_numpy(), m["url"])
    _first(p, "keep is not (issues empty)",
           m["keep"].astype(bool).to_numpy() != (m["n_issues"] == 0).to_numpy(), m["url"])
    long = m[m["n_words"] >= 50]
    _first(p, "lang_pred differs from generated language",
           (long["lang_pred"] != long["lang"]).to_numpy(), long["url"])

    planted = truth[truth["pii"].notna()].merge(pii_out, on="url", how="left")
    survived = np.array([isinstance(s, str) and v in s for v, s in
                         zip(planted["pii"], planted["scrubbed_text"])], dtype=bool)
    _first(p, "planted PII survives scrubbing", survived, planted["url"])
    _first(p, "planted-PII page has pii_hits < 1",
           ~(planted["pii_hits"].fillna(0) >= 1).to_numpy(), planted["url"])

    expect = np.array([len(t.split()) for t in sample["text"]])
    _first(p, "n_words != len(text.split())",
           sample["n_words"].to_numpy() != expect, sample["url"])
    return p


def check_train(chunks: pd.DataFrame, truth: pd.DataFrame, chunk_words: int,
                overlap_words: int, pack_budget: int) -> list[str]:
    """``chunks``: (url, chunk_id, chunk_text, chunk_n_words,
    pack_bucket, seq_id, seq_n_words), one row per chunk, from a run
    without near-dedup: every page must survive."""
    p: list[str] = []
    got = set(chunks["url"])
    _first(p, "output url is not a canonical input url",
           ~chunks["url"].isin(set(truth["canonical"])).to_numpy(), chunks["url"])
    _first(p, "page was removed", ~truth["canonical"].isin(got).to_numpy(),
           truth["canonical"])

    step = chunk_words - overlap_words
    clean = dict(zip(truth["canonical"], truth["clean"]))
    words = {u: clean[u].split() for u in got if u in clean}
    bad = []
    for u, cid, text, n in zip(chunks["url"], chunks["chunk_id"],
                               chunks["chunk_text"], chunks["chunk_n_words"]):
        w = text.split()
        start = int(cid) * step
        bad.append(not (len(w) == n <= chunk_words
                        and w == words.get(u, [])[start:start + n]))
    _first(p, "chunk is not a window of its source text", np.array(bad), chunks["url"])

    _first(p, "pack over budget", (chunks["seq_n_words"] > pack_budget).to_numpy(),
           chunks["url"])
    sums = chunks.groupby(["pack_bucket", "seq_id"])["chunk_n_words"].transform("sum")
    _first(p, "seq_n_words != words of its chunks",
           (sums != chunks["seq_n_words"]).to_numpy(), chunks["url"])
    return p


def check_near_dup(removed: set, truth: pd.DataFrame) -> list[str]:
    """``removed``: canonical urls the near-dedup stage drops (members
    of a component that are not its smallest id)."""
    p: list[str] = []
    solo = truth[truth["cluster"] < 0]
    _first(p, "page outside any near-dup cluster was removed",
           solo["canonical"].isin(removed).to_numpy(), solo["canonical"])
    members = truth[truth["cluster"] >= 0]
    hit = extra = 0
    for c, g in members.groupby("cluster"):
        gone = g["canonical"].isin(removed)
        if gone.all():
            p.append(f"near-dup cluster {c} lost every member")
        hit += int(gone.sum())
        extra += len(g) - 1
    recall = hit / extra if extra else 1.0
    if recall < NEAR_DUP_RECALL:
        p.append(f"near-dup recall {recall:.3f} < {NEAR_DUP_RECALL}")
    return p


def check_urls(raw: list[str], got: list[str]) -> list[str]:
    """normalize_url against the urllib canonicaliser."""
    return [f"normalize_url({u!r}) = {g!r}, expected {canonical_url(u)!r}"
            for u, g in zip(raw, got) if g != canonical_url(u)]


def ks_statistic(x: np.ndarray, y: np.ndarray) -> float:
    """Two-sample Kolmogorov-Smirnov D = sup |F_x - F_y|."""
    x, y = np.sort(x), np.sort(y)
    grid = np.concatenate([x, y])
    fx = np.searchsorted(x, grid, side="right") / len(x)
    fy = np.searchsorted(y, grid, side="right") / len(y)
    return float(np.max(np.abs(fx - fy)))


def iqr_outliers(x: np.ndarray) -> int:
    x = x[~np.isnan(x)]
    q1, q3 = np.percentile(x, [25, 75])
    iqr = q3 - q1
    return int(((x < q1 - 1.5 * iqr) | (x > q3 + 1.5 * iqr)).sum())


_MISSING = re.compile(r"(\d+) missing values")
_OUTLIERS = re.compile(r"Column has (\d+) outliers")
_DUPROWS = re.compile(r"There are (\d+) duplicate rows")
_KS = re.compile(r"KS test statistic of ([0-9]+\.[0-9]+)")


def check_tabular(findings: pd.DataFrame, summary: str, dc: pd.DataFrame,
                  fixed_rows: int, fixed_nulls: dict[str, int],
                  table: pd.DataFrame, train: np.ndarray, ks_col: str) -> list[str]:
    """``findings``: dq_report's (column_name, dq_issue); ``summary``:
    the report's printed good/bad summary; ``dc``: dc_report's
    (column_name, distribution_difference); ``fixed_*``: row count and
    per-imputed-column null counts of FixDQ.transform's output."""
    p: list[str] = []
    n_dup = int(table.duplicated().sum())
    m = _DUPROWS.search(summary)
    got_dup = int(m.group(1)) if m else 0
    if got_dup != n_dup:
        p.append(f"duplicate rows {got_dup} != pandas {n_dup}")
    dedup = table.drop_duplicates()
    issues = dict(zip(findings["column_name"], findings["dq_issue"]))
    for c in table.columns:
        text = issues.get(c, "")
        m = _MISSING.search(text)
        got = int(m.group(1)) if m else 0
        want = int(dedup[c].isna().sum())
        if got != want:
            p.append(f"{c}: missing {got} != pandas {want}")
        m = _OUTLIERS.search(text)
        if m and table[c].dtype.kind in "fi":
            want = iqr_outliers(dedup[c].to_numpy(dtype=float))
            if int(m.group(1)) != want:
                p.append(f"{c}: outliers {m.group(1)} != numpy {want}")
    for c in ("amount", "qty"):
        if not _OUTLIERS.search(issues.get(c, "")):
            p.append(f"{c}: planted outliers not reported")
    diff = dict(zip(dc["column_name"], dc["distribution_difference"]))
    m = _KS.search(diff.get(ks_col) or "")
    x = table.loc[train, ks_col].to_numpy(dtype=float)
    y = table.loc[~train, ks_col].to_numpy(dtype=float)
    want = ks_statistic(x, y)
    if not m or abs(float(m.group(1)) - want) > 0.0005 + 1e-9:
        p.append(f"KS({ks_col}) {m.group(1) if m else None} != numpy {want:.4f}")
    if fixed_rows != len(table) - n_dup:
        p.append(f"FixDQ.transform rows {fixed_rows} != {len(table) - n_dup} "
                 "(input rows minus duplicate rows)")
    for c, k in fixed_nulls.items():
        if k:
            p.append(f"FixDQ.transform left {k} nulls in imputed column {c}")
    return p
