"""North-rule pipeline e2e tests (SURVEY.md §5.2 strategy 5):
keep/drop F1 vs reference labels, byte-identical text invariants,
sidecar integrity, checkpoint/resume idempotency."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandas_dq_spark.webtext.fixtures import pages_df, pages_pdf
from pandas_dq_spark.webtext.heuristics import QualityConfig
from pandas_dq_spark.webtext.pipeline import (
    completed_buckets,
    host_stats_salted,
    metrics_sidecar,
    quality_filter,
    run_pipeline,
)

from .webtext_reference import reference_labels

N_DOCS = 1200


@pytest.fixture(scope="module")
def result(spark):
    sdf = pages_df(spark, N_DOCS)
    out = quality_filter(sdf).cache()
    out.count()
    return out


@pytest.fixture(scope="module")
def ref():
    return reference_labels(pages_pdf(N_DOCS))


def test_keep_drop_f1_vs_reference(result, ref):
    got = result.select("url", "keep").toPandas().set_index("url")["keep"]
    exp = ref.set_index("url")["ref_keep"]
    got, exp = got.align(exp, join="inner")
    assert len(got) == N_DOCS
    tp = int((got & exp).sum())
    fp = int((got & ~exp).sum())
    fn = int((~got & exp).sum())
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"F1={f1} (tp={tp} fp={fp} fn={fn})"
    # deterministic rules + shared models: expect exact agreement
    assert f1 == 1.0


def test_scrubbed_text_byte_identical(result, ref):
    got = result.select("url", "scrubbed_text").toPandas().set_index("url")
    exp = ref.set_index("url")
    joined = got.join(exp)
    mism = joined[joined["scrubbed_text"] != joined["ref_scrubbed"]]
    assert len(mism) == 0, mism.head()


def test_extraction_byte_identical(result):
    # per-row invariant from BASELINE.json input_hint
    assert result.filter(~F.col("extract_ok")).count() == 0
    bad = result.filter(F.col("extracted_text") != F.col("text")).count()
    assert bad == 0


def test_scrub_removes_pii(result):
    hits = result.filter(F.col("scrubbed_text").rlike(r"[0-9]{3}-[0-9]{2}-[0-9]{4}"))
    assert hits.count() == 0
    emails = result.filter(
        F.col("scrubbed_text").rlike(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    )
    assert emails.count() == 0
    assert result.filter(F.col("scrubbed_text").contains("<EMAIL>")).count() > 0


def test_scrub_gates_are_necessary_conditions(spark):
    # r6: the tightened numeric gates ([0-9]{3}[-.) ]|[0-9]\.) must
    # keep the gated chain byte-identical to the UNGATED sequential
    # chain on inputs engineered to sit just inside/outside each
    # gate's boundary (digit runs next to every separator class,
    # near-miss phone/ssn/ip shapes, tags adjacent to digits)
    from pandas_dq_spark.webtext.scrub import SCRUB_RULES, scrub_col, scrub_py

    cases = [
        "999) 123-4567 x", "123-45-6789", "12-345-6789", "1234-56-7890",
        "call (555) 123-4567 now", "+1 555-123-4567", "+1 555.123.4567",
        "ip 10.0.0.1 x", "v1.2.3.4000", "1.2.3.4", "256.1.1.1",
        "123. 456. 789. 0", "12. 34. 56.", "999 123 4567", "123 4567",
        "a@b.co 123-45-6789", "<EMAIL>123-45-6789", "x<SSN>-123",
        "123-45-678", "23-45-6789", "555-12", "555-123-456",
        "frakking 555-123-4567", "rep123", "rep123.", "rep123-",
        "(123)456-789-0123", "no digits here.", "", "   ", "1",
    ]
    # seeded fuzz over the characters the numeric rules and their gates
    # turn on, '(' and '+' included (a phone match may start at either)
    rng = np.random.default_rng(9)
    alphabet = np.array(list("0123456789 -.()+@ax"))
    cases += [
        "".join(rng.choice(alphabet, int(rng.integers(0, 25))))
        for _ in range(3000)
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    ungated = F.col("text")
    for _, pat, repl in SCRUB_RULES:
        ungated = F.regexp_replace(ungated, pat, repl)
    rows = df.select(
        "text", scrub_col(F.col("text")).alias("gated"), ungated.alias("plain")
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        assert r["gated"] == r["plain"], r["text"]
        # and the Java chain equals the Python one (scrub_py)
        assert r["gated"] == scrub_py(r["text"]), r["text"]


def test_phone_rule_scrubs_parenthesized_and_plus_forms(spark):
    # a leading \b cannot match before '(' or '+' after a space, so
    # these forms used to survive (or scrub to 'call +<PHONE> now')
    from pandas_dq_spark.webtext.scrub import scrub_col, scrub_py

    cases = ["call (555) 123-4567 now", "call +1 555-123-4567 now"]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = [r[0] for r in df.select(scrub_col(F.col("text"))).collect()]
    assert got == ["call <PHONE> now"] * 2
    assert [scrub_py(c) for c in cases] == ["call <PHONE> now"] * 2


def test_duplicate_survivor_is_min_url(result):
    dups = (
        result.groupBy(F.sha2(F.coalesce("text", F.lit("")), 256).alias("h"))
        .agg(
            F.count("*").alias("n"),
            F.min("url").alias("min_url"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup"),
        )
        .filter("n > 1")
    )
    rows = dups.collect()
    assert rows, "fixture should contain duplicates"
    for r in rows:
        assert r["n_dup"] == r["n"] - 1
    # the survivor (is_dup false) must be the min url
    surv = (
        result.withColumn("h", F.sha2(F.coalesce("text", F.lit("")), 256))
        .filter(~F.col("is_dup"))
        .groupBy("h")
        .agg(F.count("*").alias("k"), F.min("url").alias("u"))
    )
    assert surv.filter("k != 1").count() == 0


def test_issue_report_structure(result):
    row = result.filter(F.col("n_words") == 0).select("issues", "dq_issue").first()
    checks = [i["check"] for i in row["issues"]]
    assert "empty_doc" in checks
    assert "missing-value analogue" in row["dq_issue"]
    kept = result.filter(F.col("keep")).select("dq_issue").first()
    assert kept["dq_issue"] == "No issue"


def test_langid_accuracy(result):
    # on non-empty docs the wordlist langid should recover the fixture
    # language nearly perfectly
    conf = (
        result.filter(F.col("n_words") >= 30)
        .select((F.col("lang") == F.col("lang_pred")).cast("int").alias("ok"))
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert conf > 0.97


def test_sidecar_covers_all_buckets(result):
    cfg = QualityConfig()
    side = metrics_sidecar(result, cfg)
    rows = side.collect()
    assert sum(r["n_docs"] for r in rows) == N_DOCS
    assert all(r["n_kept"] + r["n_dropped"] == r["n_docs"] for r in rows)


def test_host_stats_salted(result):
    hs = host_stats_salted(result).collect()
    assert sum(r["n_docs"] for r in hs) == N_DOCS
    by_host = {r["host"]: r["n_docs"] for r in hs}
    # zipf skew: site00 is the hottest host
    assert by_host["site00.example"] == max(by_host.values())


def test_resume_produces_identical_output(spark, tmp_path):
    cfg = QualityConfig(n_buckets=8)
    sdf = pages_df(spark, 400)

    full_dir = str(tmp_path / "full")
    run_pipeline(sdf, full_dir, cfg, resume=False)

    part_dir = str(tmp_path / "partial")
    # simulated kill after 2 of 4 batches
    r1 = run_pipeline(sdf, part_dir, cfg, resume=True, buckets_per_batch=2, max_batches=2)
    assert len(r1["processed_buckets"]) == 4
    assert completed_buckets(part_dir) == set(r1["processed_buckets"])
    # resume: must skip completed buckets and finish the rest
    r2 = run_pipeline(sdf, part_dir, cfg, resume=True, buckets_per_batch=2)
    assert set(r2["skipped_buckets"]) == set(r1["processed_buckets"])
    assert len(r2["processed_buckets"]) == 4

    a = spark.read.parquet(os.path.join(full_dir, "docs")).select(
        "url", "keep", "scrubbed_text", "bucket"
    )
    b = spark.read.parquet(os.path.join(part_dir, "docs")).select(
        "url", "keep", "scrubbed_text", "bucket"
    )
    assert a.count() == b.count() == 400
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert completed_buckets(part_dir) == set(range(8))


def test_fully_resumed_run_touches_nothing(spark, tmp_path):
    # resuming a COMPLETED run must return immediately without the
    # dedup shuffle or any input scan (code-review r02 finding)
    cfg = QualityConfig(n_buckets=4)
    out_dir = str(tmp_path / "done")
    sdf = pages_df(spark, 80)
    run_pipeline(sdf, out_dir, cfg, resume=False)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    r = run_pipeline(sdf, out_dir, cfg, resume=True)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert r["processed_buckets"] == []
    assert set(r["skipped_buckets"]) == set(range(4))
    assert after == before  # zero Spark jobs ran


def test_bucketed_input_partition_pruned(spark, tmp_path):
    # prepare_bucketed_input + run_pipeline: per-batch filters become
    # PARTITION filters (a batch opens only its buckets' files) and the
    # output matches the unpartitioned run byte-for-byte
    from pandas_dq_spark.webtext.pipeline import prepare_bucketed_input

    cfg = QualityConfig(n_buckets=8)
    sdf = pages_df(spark, 240)
    src = prepare_bucketed_input(sdf, str(tmp_path / "bucketed_src"), cfg)
    bucketed = spark.read.parquet(src)

    plain_dir = str(tmp_path / "plain_out")
    run_pipeline(sdf, plain_dir, cfg, resume=False)
    buck_dir = str(tmp_path / "buck_out")
    run_pipeline(bucketed, buck_dir, cfg, resume=False, buckets_per_batch=3)

    a = spark.read.parquet(os.path.join(plain_dir, "docs")).select(
        "url", "keep", "scrubbed_text", "bucket"
    )
    b = spark.read.parquet(os.path.join(buck_dir, "docs")).select(
        "url", "keep", "scrubbed_text", "bucket"
    )
    assert a.count() == b.count() == 240
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # the per-batch bucket predicate is a PARTITION filter on the scan
    plan = (
        bucketed.filter(F.col("bucket").isin([0, 1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert any(
        "PartitionFilters" in l and "bucket" in l.split("PartitionFilters")[1]
        for l in scan_lines
    ), plan


def test_arrow_pass_runs_once_per_row_per_run(spark, tmp_path):
    # VERDICT r02 item 1: the metrics sidecar must come from the
    # committed parquet, not re-evaluate the expensive plan.  The UDF
    # row counter must therefore see each input row exactly ONCE even
    # across multiple batches (before the fix it saw each row twice:
    # once for the docs write, once for the sidecar agg).
    n_docs = 240
    cfg = QualityConfig(n_buckets=8)
    sdf = pages_df(spark, n_docs)
    counter = spark.sparkContext.accumulator(0)
    out_dir = str(tmp_path / "once")
    r = run_pipeline(
        sdf, out_dir, cfg, resume=False, buckets_per_batch=3,
        udf_row_counter=counter,
    )
    assert len(r["processed_buckets"]) == 8
    assert counter.value == n_docs
    # sidecar still correct (it now reads the committed bytes)
    side = pd.concat(
        [spark.read.parquet(os.path.join(out_dir, "sidecar")).toPandas()]
    )
    assert int(side["n_docs"].sum()) == n_docs
    assert (side["n_kept"] + side["n_dropped"]).equals(side["n_docs"])


def test_batch_filter_prunes_before_udf_and_verdict_cached(spark, tmp_path):
    # the per-batch bucket filter must reach the parquet scan (below
    # the Arrow UDF pass), and the dedup verdict must come from cache
    # (one (hash,url) shuffle for the whole batched run) — VERDICT r01
    # item 6
    from pandas_dq_spark.webtext.pipeline import duplicate_urls, quality_filter

    cfg = QualityConfig(n_buckets=8)
    src = str(tmp_path / "pages")
    pages_df(spark, 200).write.mode("overwrite").parquet(src)
    raw = spark.read.parquet(src).withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(cfg.n_buckets)).cast("int")
    )
    verdict = duplicate_urls(raw).persist()
    verdict.count()
    try:
        result = quality_filter(raw, cfg, dup_verdict=verdict)
        plan = (
            result.filter(F.col("bucket").isin([0, 1]))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "InMemoryTableScan" in plan  # verdict served from cache
        # the xxhash64 bucket predicate lands in the scan's DataFilters
        scan_lines = [
            l for l in plan.splitlines() if "FileScan" in l and "DataFilters" in l
        ]
        assert any("xxhash64" in l for l in scan_lines), plan
        # and the Arrow UDF sits ABOVE that filtered scan
        lines = plan.splitlines()
        udf_i = next(i for i, l in enumerate(lines) if "ArrowEvalPython" in l)
        scan_i = next(
            i for i, l in enumerate(lines) if "FileScan" in l and "xxhash64" in l
        )
        assert udf_i < scan_i  # tree prints top-down: UDF above the scan
    finally:
        verdict.unpersist()


def test_pii_hit_count_golden(spark):
    """ADVICE r03: pin the pii_hit_count short-circuit — the count with
    the scrubbed-text fast path, the count without it, and a plain
    python `re` reference must agree on fixture + adversarial text."""
    import re as _re

    from pandas_dq_spark.webtext.scrub import (
        SCRUB_RULES,
        pii_hit_count,
        scrub_col,
    )

    pdf = pages_pdf(300)[["url", "text"]].dropna(subset=["text"])
    adversarial = pd.DataFrame(
        {
            "url": [f"adv{i}" for i in range(7)],
            "text": [
                "",
                "reach me at a.b+c@ex-ample.co.uk or 212-555-0199 now",
                "ssn 123-45-6789 ip 10.0.0.1 phone (212) 555-0199",
                "clean prose with no personal data whatsoever",
                "dash-but-no-digit and an @ sign alone",
                "<EMAIL> already scrubbed plus a fresh 999-99-9999",
                "1.2.3.4.5 almost an ip and 12-34-5678 almost an ssn",
            ],
        }
    )
    pdf = pd.concat([pdf, adversarial], ignore_index=True)
    sdf = spark.createDataFrame(pdf)
    out = (
        sdf.select(
            "url",
            pii_hit_count(F.col("text")).alias("hits_direct"),
            pii_hit_count(F.col("text"), scrub_col(F.col("text"))).alias(
                "hits_shortcircuit"
            ),
        )
        .toPandas()
        .set_index("url")
    )
    assert len(out) == len(pdf)
    n_nonzero = 0
    for url, t in zip(pdf["url"], pdf["text"]):
        exp = sum(1 for _, pat, _ in SCRUB_RULES if _re.search(pat, t))
        assert out.loc[url, "hits_direct"] == exp, (url, t)
        assert out.loc[url, "hits_shortcircuit"] == exp, (url, t)
        n_nonzero += exp > 0
    assert n_nonzero > 0  # fixture must exercise the firing path


def test_dedup_verdict_skew_safe_plan_and_flood(spark):
    """r4/r5: the flood-safe exact-dedup strategy is groupBy(min) +
    count>1-pruned join — no per-hash window that would single-task an
    identical-doc flood; the count>1 filter keeps the join's build
    side to just the duplicated hashes (r5).  Both strategies must
    agree on the verdict, and the r5 auto-probe picks the fast window
    plan for corpora too small to contain a task-breaking flood."""
    from pandas_dq_spark.webtext.pipeline import duplicate_urls, mark_duplicates

    rows = [(f"u{i:06d}", "the same viral page body") for i in range(5000)]
    rows += [(f"x{i:03d}", f"distinct body {i}") for i in range(200)]
    pdf = pd.DataFrame(rows, columns=["url", "text"])
    sdf = spark.createDataFrame(pdf).repartition(8)

    d = duplicate_urls(sdf, flood_safe=True)
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "hashpartitioning(__h" in plan  # slim (hash,url) shuffle only
    # the build side is the count>1-filtered survivor table
    assert "__cnt" in plan

    dups = {r["url"] for r in d.collect()}
    # survivor = lexicographically smallest url of the flood group
    assert dups == {f"u{i:06d}" for i in range(1, 5000)}

    # auto-probe: 5200 rows << FLOOD_SAFE_MIN_ROWS -> window plan
    d_auto = duplicate_urls(sdf)
    assert "Window" in d_auto._jdf.queryExecution().executedPlan().toString()
    assert {r["url"] for r in d_auto.collect()} == dups  # identical verdict

    marked = mark_duplicates(sdf)
    assert marked.filter("is_dup").count() == 4999
    assert marked.filter("NOT is_dup").count() == 201


def test_quality_filter_plan_window_only_from_dedup_choice(spark):
    """r4/r5: with a flood-safe dedup verdict the full pipeline
    contains NO window operator — every stage is a narrow projection,
    a partial-aggregable groupBy, or an AQE-splittable join.  (The r5
    auto-probe deliberately picks the faster window verdict for small
    corpora, so the no-window property is asserted through the
    flood_safe=True verdict.)"""
    from pandas_dq_spark.webtext.fixtures import pages_df
    from pandas_dq_spark.webtext.heuristics import QualityConfig
    from pandas_dq_spark.webtext.pipeline import duplicate_urls, quality_filter

    pages = pages_df(spark, 200)
    verdict = duplicate_urls(pages, flood_safe=True)
    out = quality_filter(pages, QualityConfig(min_words=20), dup_verdict=verdict)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_reserved_input_columns_dropped(spark, capsys):
    """ADVICE r04: input columns named like pipeline outputs (n_chars,
    keep, issues, ...) must not produce duplicate/ambiguous columns —
    they are dropped at entry with an Alert, and the computed values
    win.  A pre-existing `bucket` column is deliberately kept."""
    from pandas_dq_spark.webtext.fixtures import pages_df

    sdf = pages_df(spark, 50).withColumn(
        "n_chars", F.lit(-1)
    ).withColumn("keep", F.lit(False)).withColumn("issues", F.lit("junk"))
    out = quality_filter(sdf, QualityConfig(min_words=20))
    assert "collide with pipeline output names" in capsys.readouterr().out
    # no duplicate names, and the computed columns are usable
    assert len(out.columns) == len(set(out.columns))
    row = out.filter("keep").select("n_chars", "issues").first()
    assert row["n_chars"] > 0 and row["issues"] == []


def test_host_salting_profile_driven(spark):
    """r5 (VERDICT r04 item 6): with one host at 90% of rows,
    salt_buckets=None derives S from the host-frequency profile and
    the partial-agg stage's biggest (host, salt) group is bounded by
    ~n/S — no reducer sees the whole hot host."""
    n, par = 8000, int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows = [
        (
            (f"https://hot.example/p{i}" if i < int(n * 0.9)
             else f"https://cold{i % 50}.example/p{i}"),
            i % 3 != 0,
        )
        for i in range(n)
    ]
    sdf = spark.createDataFrame(rows, "url string, keep boolean")

    st = {}
    out = host_stats_salted(sdf, stats=st).collect()
    S = st["salt_buckets"]
    assert st["max_host_rows"] == int(n * 0.9)
    # S is sized so the hot host's share per salt <= an average
    # reducer's share of the table
    assert S == min(par, -(-int(n * 0.9) // max(1, n // par)))
    assert S > 1

    # measure the actual partial-agg group sizes: max (host, salt)
    # group must be ~ max_host/S, not max_host
    partial = (
        sdf.select(
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.pmod(F.xxhash64("url"), F.lit(S)).alias("salt"),
        )
        .groupBy("host", "salt")
        .count()
    )
    max_group = partial.agg(F.max("count")).first()[0]
    assert max_group <= 2 * (int(n * 0.9) // S)

    # and the salted result is still exact
    by_host = {r["host"]: (r["n_docs"], r["n_kept"]) for r in out}
    assert by_host["hot.example"][0] == int(n * 0.9)
    assert sum(v[0] for v in by_host.values()) == n
    exp_kept = sum(1 for u, k in rows if k and "hot" in u)
    assert by_host["hot.example"][1] == exp_kept


def test_optional_gopher_repetition_rule(spark):
    """r5: the duplicate-n-gram rule is OPT-IN — default config keeps
    F1 parity (rule absent), configured it drops repetitive docs with
    its own issue entry."""
    from pandas_dq_spark.webtext.heuristics import rule_exprs

    assert "repetitive_ngrams" not in {
        n for n, _p, _d in rule_exprs(QualityConfig())
    }

    body = ("buy cheap items now " * 40).strip()           # highly repetitive
    clean = " ".join(f"distinctword{i}" for i in range(120))
    df = spark.createDataFrame(
        [("u1", body), ("u2", clean)], "url string, text string"
    )
    cfg = QualityConfig(
        min_words=10, min_stopword_frac=0.0, min_lang_score=0.0,
        max_perplexity=1e9, target_lang="en",
        max_dup_ngram_frac=0.5, dup_ngram_n=3,
    )
    out = quality_filter(df, cfg, check_extraction=False)
    rows = {r["url"]: r for r in out.collect()}
    assert not rows["u1"]["keep"]
    assert any(
        i["check"] == "repetitive_ngrams" for i in rows["u1"]["issues"]
    )
    assert all(
        i["check"] != "repetitive_ngrams" for i in rows["u2"]["issues"]
    )
