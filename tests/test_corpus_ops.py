"""Corpus-preparation operators (functions/corpus.py): deterministic
sampling / stratified mixing, document chunking, term statistics."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandas_dq_spark.functions.corpus import (
    chunk_documents,
    deterministic_sample,
    hash_threshold,
    stratified_mix,
    term_stats,
    tfidf_top_terms,
)


def _words(t):
    return [w for w in re.split(r"\s+", t or "", flags=re.ASCII) if w]


def test_hash_threshold_bounds():
    assert hash_threshold(0.0) == "00000000"
    # the supremum must sort above every hex hash (a 9-digit hex
    # number would NOT: "100000000" < "2f..." lexicographically)
    assert hash_threshold(1.0) == "g" > "ffffffff"
    assert hash_threshold(0.5) == "80000000"
    with pytest.raises(ValueError):
        hash_threshold(1.5)


def test_deterministic_sample_reproducible_and_narrow(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = deterministic_sample(docs, 0.25, "doc_id")
    b = deterministic_sample(docs, 0.25, "doc_id")
    ids_a = {r["doc_id"] for r in a.select("doc_id").collect()}
    ids_b = {r["doc_id"] for r in b.select("doc_id").collect()}
    assert ids_a == ids_b  # pure function of the key
    n = docs.count()
    assert 0.15 * n <= len(ids_a) <= 0.35 * n  # ~fraction at 32-bit hash
    # a narrow filter: no shuffle anywhere in the plan
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # monotone: a smaller fraction selects a subset
    ids_small = {
        r["doc_id"]
        for r in deterministic_sample(docs, 0.1, "doc_id").select("doc_id").collect()
    }
    assert ids_small <= ids_a


def test_stratified_mix_rates_and_default(spark):
    rows = [(i, "en" if i % 3 else "de") for i in range(6000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_mix(
        df, {"en": 0.5, "de": 1.0}, stratum_col="lang", key_col="doc_id"
    )
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got["de"] == 2000  # fraction 1.0 keeps everything
    assert 0.4 * 4000 <= got["en"] <= 0.6 * 4000
    # absent stratum -> default_fraction (0.0 drops it entirely)
    df2 = df.withColumn("lang", F.when(F.col("doc_id") < 100, "fr").otherwise(F.col("lang")))
    out2 = stratified_mix(df2, {"en": 1.0}, stratum_col="lang", key_col="doc_id")
    assert out2.filter("lang = 'fr'").count() == 0
    assert out2.filter("lang = 'de'").count() == 0


def test_chunk_documents_coverage_and_overlap(spark):
    texts = [
        (0, " ".join(f"w{i}" for i in range(100))),
        (1, "only four words here"),
        (2, ""),
        (3, None),
        (4, "  padded   with \t whitespace  "),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = chunk_documents(df, chunk_words=40, overlap_words=10).collect()
    by_doc = defaultdict(dict)
    for r in out:
        by_doc[r["doc_id"]][r["chunk_id"]] = r

    # doc 0: 100 words, step 30 -> starts 0,30,60,90 -> 4 chunks
    assert sorted(by_doc[0]) == [0, 1, 2, 3]
    words0 = _words(texts[0][1])
    for cid, r in by_doc[0].items():
        exp = words0[cid * 30 : cid * 30 + 40]
        assert _words(r["chunk_text"]) == exp
        assert r["chunk_n_words"] == len(exp)
    # consecutive chunks share exactly the overlap
    assert _words(by_doc[0][0]["chunk_text"])[-10:] == _words(by_doc[0][1]["chunk_text"])[:10]
    # coverage: union of chunk words (de-overlapped) == original
    recon = _words(by_doc[0][0]["chunk_text"])
    for cid in range(1, 4):
        recon += _words(by_doc[0][cid]["chunk_text"])[10:]
    assert recon == words0

    # short doc -> one whole chunk; empty/None -> no chunks
    assert sorted(by_doc[1]) == [0]
    assert by_doc[1][0]["chunk_text"] == "only four words here"
    assert by_doc[1][0]["chunk_n_words"] == 4
    assert 2 not in by_doc and 3 not in by_doc
    assert by_doc[4][0]["chunk_text"] == "padded with whitespace"

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_words=10, overlap_words=10)


def test_chunk_documents_splits_each_document_once(spark):
    # the word array is one column: CollapseProject must not inline it
    # back into the CASE branches, the per-window lambda or the word
    # count, each of which would split the whole text again
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    out = chunk_documents(df, chunk_words=40, overlap_words=10)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan


def test_term_stats_and_tfidf_match_python(spark):
    texts = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat"),
        (2, "cat CAT cat"),
        (3, None),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["term"]: (r["tf"], r["df"]) for r in term_stats(df).collect()}
    tf, dfreq = Counter(), Counter()
    for _i, t in texts:
        ws = [w.lower() for w in _words(t)]
        tf.update(ws)
        dfreq.update(set(ws))
    exp = {w: (tf[w], dfreq[w]) for w in tf}
    assert got == exp

    top = tfidf_top_terms(df, k=3, min_df=1, n_docs=4).collect()
    scored = sorted(
        ((w, round(tf[w] * math.log(4 / dfreq[w]), 6)) for w in tf),
        key=lambda x: (-x[1], x[0]),
    )[:3]
    assert [(r["term"], r["tfidf"]) for r in top] == [
        (w, pytest.approx(s, abs=1e-9)) for w, s in scored
    ]


def test_term_stats_plan_no_distinct_expand(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    st = term_stats(docs)
    plan = st._jdf.queryExecution().executedPlan().toString()
    # df via two-level pre-aggregation, never count(DISTINCT) state
    assert "Expand" not in plan
    row = st.agg(F.sum("tf").alias("s")).first()
    total = docs.select(
        F.sum(
            F.size(
                F.filter(
                    F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                    lambda t: t != "",
                )
            )
        )
    ).first()[0]
    assert row["s"] == total  # every token counted exactly once


def test_pack_chunks_greedy_budget_and_determinism(spark):
    rng_rows = [(d, c, 1 + (d * 7 + c * 13) % 200) for d in range(40) for c in range(5)]
    df = spark.createDataFrame(rng_rows, "doc_id long, chunk_id int, chunk_n_words int")
    from pandas_dq_spark.functions.corpus import pack_chunks

    out = pack_chunks(df, budget_words=256, n_buckets=8).collect()
    assert len(out) == len(rng_rows)  # every chunk lands somewhere

    # python replay of the per-bucket greedy next-fit
    by_bucket = defaultdict(list)
    for r in out:
        by_bucket[r["pack_bucket"]].append(r)
    words = {(d, c): n for d, c, n in rng_rows}
    for b, rows in by_bucket.items():
        rows = sorted(rows, key=lambda r: (r["doc_id"], r["chunk_id"]))
        seq, acc, totals = 0, 0, defaultdict(int)
        for r in rows:
            n = words[(r["doc_id"], r["chunk_id"])]
            if acc > 0 and acc + n > 256:
                seq += 1
                acc = 0
            acc += n
            assert r["seq_id"] == seq, (b, r)
            totals[seq] += n
        for r in rows:
            assert r["seq_n_words"] == totals[r["seq_id"]]
        # budget respected except oversized singletons
        for s, t in totals.items():
            members = [r for r in rows if r["seq_id"] == s]
            assert t <= 256 or len(members) == 1

    # deterministic under different input partitioning
    out2 = pack_chunks(df.repartition(13), budget_words=256, n_buckets=8).collect()
    key = lambda r: (r["doc_id"], r["chunk_id"])
    assert sorted(map(lambda r: r.asDict(), out2), key=lambda d: (d["doc_id"], d["chunk_id"])) == \
        sorted(map(lambda r: r.asDict(), out), key=lambda d: (d["doc_id"], d["chunk_id"]))


def test_connected_components_vs_union_find(spark):
    from pandas_dq_spark.operators.dedup import (
        connected_components,
        release_dedup_caches,
    )

    # chain 0-1-2-3, triangle 10-11-12, star 20-{21,22,23}, bridge
    # 3-10 merging chain+triangle; plus a long path to force >1 round
    pairs = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (10, 12),
             (3, 10), (20, 21), (20, 22), (20, 23)]
    pairs += [(100 + i, 101 + i) for i in range(30)]  # path of 31:
    # needs ~5 pointer-doubling rounds, would need 30 plain ones
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    release_dedup_caches()

    # union-find oracle
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        union(a, b)
    exp = {x: find(x) for x in parent}
    assert got == exp
    assert got[12] == 0  # bridge merged the triangle into the chain
    assert got[130] == 100  # the long path converged to its min


def test_connected_components_long_path_converges_fast(spark):
    """Pointer doubling: a 200-edge path converges within max_iter=10
    (plain min-propagation would need 200 rounds)."""
    import warnings as _warnings

    from pandas_dq_spark.operators.dedup import (
        connected_components,
        release_dedup_caches,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")  # non-convergence would raise
        got = {r["id"]: r["comp"] for r in
               connected_components(df, max_iter=10).collect()}
    release_dedup_caches()
    assert got == {i: 0 for i in range(201)}


def test_connected_components_random_graph(spark):
    import numpy as np

    from pandas_dq_spark.operators.dedup import (
        connected_components,
        release_dedup_caches,
    )

    rng = np.random.default_rng(17)
    edges = {(int(min(a, b)), int(max(a, b)))
             for a, b in rng.integers(0, 400, (300, 2)) if a != b}
    df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    got = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    release_dedup_caches()
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in sorted(edges):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp = {x: find(x) for x in parent}
    assert got == exp


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=0, max_value=120),
    st.integers(min_value=2, max_value=50),
    st.integers(min_value=0, max_value=40),
)
def test_chunk_math_property(n_words, chunk, overlap):
    """Pure-python replica of the chunk-count / coverage math the
    Catalyst expressions implement — exercised over the whole
    parameter space (the Spark-side path is pinned by the example
    tests and the c_chunks DuckDB oracle)."""
    if overlap >= chunk:
        return
    step = chunk - overlap
    n_chunks = 0 if n_words <= 0 else (n_words - 1) // step + 1
    starts = [i * step for i in range(n_chunks)]
    # every start is inside the doc, windows cover all words, and
    # consecutive windows overlap by exactly `overlap` (or the doc end)
    assert all(s < n_words for s in starts)
    covered = set()
    for s in starts:
        covered.update(range(s, min(n_words, s + chunk)))
    assert covered == set(range(n_words))
    for a, b in zip(starts, starts[1:]):
        assert a + chunk >= b + min(overlap, n_words - b)
    # chunk_n_words expression: least(chunk, n - start) is never <= 0
    for s in starts:
        assert min(chunk, n_words - s) > 0


def test_pack_chunks_custom_id_cols(spark):
    """id_cols of any arity/dtype pass through with their input types."""
    from pandas_dq_spark.functions.corpus import pack_chunks

    rows = [(f"u{d}", d, c, 50) for d in range(6) for c in range(3)]
    df = spark.createDataFrame(
        rows, "url string, doc_id int, chunk_id int, chunk_n_words int"
    )
    out = pack_chunks(
        df, budget_words=120, id_cols=("url", "doc_id", "chunk_id"),
        n_buckets=4,
    )
    assert dict(out.dtypes)["url"] == "string"
    rows_out = out.collect()
    assert len(rows_out) == len(rows)
    assert all(r["seq_n_words"] <= 120 for r in rows_out)


def test_pack_chunks_carry_cols_match_join_back(spark):
    """Carried columns come out as if the packing were joined back."""
    from pandas_dq_spark.functions.corpus import pack_chunks

    rows = [
        (d, c, f"doc {d} chunk {c}", 1 + (d * 7 + c * 13) % 90)
        for d in range(30) for c in range(4)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, chunk_id int, chunk_text string, chunk_n_words int"
    )
    carried = pack_chunks(
        df, budget_words=128, n_buckets=8,
        carry_cols=("chunk_text", "chunk_n_words"),
    )
    assert carried.columns == [
        "doc_id", "chunk_id", "chunk_text", "chunk_n_words",
        "pack_bucket", "seq_id", "seq_n_words",
    ]
    assert dict(carried.dtypes)["chunk_text"] == "string"
    joined = df.join(
        pack_chunks(df, budget_words=128, n_buckets=8), ["doc_id", "chunk_id"]
    ).select(*carried.columns)
    key = lambda r: (r["doc_id"], r["chunk_id"])
    assert sorted(carried.collect(), key=key) == sorted(joined.collect(), key=key)


def test_duplicate_ngram_fraction(spark):
    from pandas_dq_spark.functions.textstats import duplicate_ngram_fraction

    rows = [
        (0, "a b a b a b"),        # 2-grams: ab ba ab ba ab -> 2 distinct of 5
        (1, "w x y z"),            # all distinct
        (2, "only two"),           # 1 bigram
        (3, "single"),             # < n words -> 0.0
        (4, ""),
        (5, None),
        (6, "r r r r r r r r"),    # all identical
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id",
            F.round(duplicate_ngram_fraction(F.col("text"), 2), 6).alias("f"),
        ).collect()
    }
    assert got[0] == pytest.approx(1 - 2 / 5)
    assert got[1] == 0.0 and got[2] == 0.0
    assert got[3] == 0.0 and got[4] == 0.0 and got[5] == 0.0
    assert got[6] == pytest.approx(1 - 1 / 7)


def test_top_ngram_fraction(spark):
    from pandas_dq_spark.functions.textstats import top_ngram_fraction

    rows = [
        (0, "a b a b a b"),    # bigrams: [ab, ba, ab, ba, ab] -> 3/5
        (1, "w x y z"),        # all distinct -> 1/3
        (2, "single"),         # < n -> 0.0
        (3, ""),
        (4, "r r r r"),        # all identical -> 3/3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id",
            F.round(top_ngram_fraction(F.col("text"), 2), 6).alias("f"),
        ).collect()
    }
    assert got[0] == pytest.approx(3 / 5)
    assert got[1] == pytest.approx(1 / 3)
    assert got[2] == 0.0 and got[3] == 0.0
    assert got[4] == pytest.approx(1.0)


def test_stratified_mix_null_stratum_gets_default(spark):
    rows = [(1, "en"), (2, None), (3, None), (4, "en")]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_mix(
        df, {"en": 1.0}, stratum_col="lang", key_col="doc_id",
        default_fraction=0.0,
    )
    got = {r["doc_id"] for r in out.collect()}
    assert got == {1, 4}  # NULL stratum falls through to the default
    keep_all = stratified_mix(
        df, {"en": 1.0}, stratum_col="lang", key_col="doc_id",
        default_fraction=1.0,
    )
    assert keep_all.count() == 4


def test_connected_components_empty_pairs(spark):
    from pandas_dq_spark.operators.dedup import (
        connected_components,
        release_dedup_caches,
    )

    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components(empty)
    assert out.count() == 0
    release_dedup_caches()
