"""The workloads: each builds its seeded input, runs one timed
operation per round through the public ``pandas_dq_spark`` API, checks
the outputs, and in the traced run isolates each layer in a span."""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
from tracing import Tracer, python_worker_cpu_s

import pandas_dq_spark as pdq
from pandas_dq_spark.functions.corpus import chunk_documents, pack_chunks
from pandas_dq_spark.operators.dedup import connected_components, minhash_lsh_duplicates
from pandas_dq_spark.operators.ks import ks_2samp_many
from pandas_dq_spark.plans.profile import profile
from pandas_dq_spark.webtext.heuristics import QualityConfig, rule_exprs
from pandas_dq_spark.webtext.linededup import remove_repeated_lines
from pandas_dq_spark.webtext.pipeline import (
    duplicate_urls,
    mark_duplicates,
    metrics_sidecar,
    quality_filter,
    run_pipeline,
)
from pandas_dq_spark.webtext.scrub import pii_hit_count, scrub_col
from pandas_dq_spark.webtext.udfs import TEXT_SCORES_FIELDS, make_text_scores_udf

CRAWL_PAGES = 20_000
TRAIN_PAGES = 3_000
TABLE_ROWS = 5_000
CHUNK_WORDS, OVERLAP_WORDS, PACK_BUDGET = 128, 16, 512
LINE_MIN_DOCS, NEAR_DUP_THRESHOLD = 10, 0.7

# every per-layer metric, in BENCHMARK.json order; a workload that does
# not run a layer reports 0 for it
SHUFFLE_SPANS = ("dedup.verdict", "write", "minhash", "components", "pack", "linededup")
SPANS = ("scan", "pipeline.plan", "udfs.scores", "dedup.verdict", "rules", "scrub",
         "write", "sidecar", "urls.normalize", "linededup", "minhash", "components",
         "chunk", "pack", "dq_report", "profile", "fix_dq.fit", "fix_dq.transform",
         "dc_report", "ks")
LAYER_METRICS = (
    [("traced.run_s", "s"), ("session.start_s", "s"), ("scan.s", "s"),
     ("pipeline.plan_s", "s"), ("udfs.scores_s", "s"), ("udfs.rows_scored", "count"),
     ("udfs.python_cpu_s", "s"), ("udfs.fresh_words", "count"),
     ("dedup.verdict_s", "s"), ("dedup.dup_rows", "count"), ("rules.s", "s"),
     ("rules.dropped_rows", "count"), ("scrub.s", "s"), ("scrub.hit_rows", "count"),
     ("write.s", "s"), ("write.out_mb", "MiB"),
     ("sidecar.s", "s"), ("urls.normalize_s", "s"), ("linededup.s", "s"),
     ("linededup.lines_removed", "count"), ("minhash.s", "s"), ("minhash.pairs", "count"),
     ("minhash.hot_buckets", "count"), ("components.s", "s"),
     ("components.clusters", "count"), ("chunk.s", "s"), ("chunk.rows", "count"),
     ("pack.s", "s"), ("dq_report.s", "s"), ("profile.s", "s"), ("fix_dq.fit_s", "s"),
     ("fix_dq.transform_s", "s"), ("dc_report.s", "s"), ("ks.s", "s")]
    + [(f"{s}.jobs", "count") for s in SPANS]
    + [(f"{s}.task_cpu_s", "s") for s in SPANS]
    + [(f"{s}.{k}", u) for s in SHUFFLE_SPANS
       for k, u in (("shuffle_write_mb", "MiB"), ("spill_mb", "MiB"), ("gc_s", "s"))]
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


class Workload:
    """One workload.  ``setup`` builds and materialises the input and
    runs one warm-up round; ``prepare`` readies a round outside the
    timed region and ``timed`` is the timed operation;
    ``failing_ops`` run once per round outside the timed region and
    return True when they fail; ``check`` returns output problems;
    ``layers`` runs the isolated per-layer spans of the traced run and
    returns the further operations it attempted and saw fail."""

    rows = 0
    # set by the traced run: an accumulator the timed operation hands
    # to the scores UDF where the API takes one
    row_counter = None

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed

    def prepare(self) -> None:
        pass

    def failing_ops(self) -> list:
        return []


class CrawlShard(Workload):
    """run_pipeline from a parquet shard on disk to bucket-partitioned
    parquet, sidecar and manifest."""

    cfg = QualityConfig(n_buckets=8)

    def setup(self) -> None:
        self.epoch = 0
        self.shard = self.out_dir = None
        self.prepare()
        self.timed()  # warm-up: cold JVM, codegen, Python workers
        # Every Python worker keeps its own word cache.  Scoring one copy
        # of every epoch-independent word per task slot, concurrently,
        # fills the workers' caches with them, so that a timed round's
        # misses are the numbers new in its epoch (``fresh_words``).
        n = self.spark.sparkContext.defaultParallelism
        words = gen.warm_words()
        docs = [" ".join(words[i:i + 1000]) for i in range(0, len(words), 1000)]
        udf = make_text_scores_udf(self.cfg.stopwords)
        noop(self.spark.createDataFrame(pd.DataFrame({"text": docs * n}))
             .select(udf(F.col("text"))))

    def prepare(self) -> None:
        """A new epoch of the shard: the same pages with numbers that no
        earlier round saw, and a new output directory."""
        if self.shard:
            os.remove(self.shard)
            os.remove(self.shard + ".truth")
            shutil.rmtree(self.out_dir)
        self.epoch += 1
        self.table, self.truth = gen.crawl_pages(CRAWL_PAGES, self.seed, self.epoch)
        self.rows = self.table.num_rows
        self.shard = os.path.join(self.workdir, f"shard{self.epoch}.parquet")
        pq.write_table(self.table, self.shard, row_group_size=self.rows // 8)
        self.truth.to_parquet(self.shard + ".truth")
        self.out_dir = os.path.join(self.workdir, f"out{self.epoch}")

    def timed(self) -> None:
        run_pipeline(self.spark.read.parquet(self.shard), self.out_dir, self.cfg,
                     udf_row_counter=self.row_counter)

    def out_mb(self) -> float:
        return dir_mb(self.out_dir)

    def check(self) -> list[str]:
        docs = self.spark.read.parquet(os.path.join(self.out_dir, "docs"))
        out = docs.select("url", "is_dup", "keep", F.size("issues").alias("n_issues"),
                          "lang_pred", "n_words").toPandas()
        mdir = os.path.join(self.out_dir, "_manifest")
        manifest = 0
        for f in os.listdir(mdir):
            with open(os.path.join(mdir, f)) as fh:
                manifest += int(json.load(fh)["n_docs"])
        pii_urls = self.truth.loc[self.truth["pii"].notna(), "url"].tolist()
        pii_out = docs.filter(F.col("url").isin(pii_urls)).select(
            "url", "scrubbed_text", "pii_hits").toPandas()
        sample_urls = self.truth["url"].iloc[:: max(1, self.rows // 2000)].tolist()
        sample = docs.filter(F.col("url").isin(sample_urls)).select(
            "url", "n_words").toPandas()
        text = dict(zip(self.table.column("url").to_pylist(),
                        self.table.column("text").to_pylist()))
        sample["text"] = sample["url"].map(text)
        return checks.check_crawl(out, manifest, self.truth, pii_out, sample)

    def layers(self, tr: Tracer, m: dict) -> tuple[int, int]:
        spark, cfg = self.spark, self.cfg
        # the timed round handed this counter to run_pipeline, which
        # promises to score each row once although it persists the
        # verdict, writes, and reads the output back
        m["udfs.rows_scored"] = self.row_counter.value
        # the layers run on the next epoch, so the isolated scores pass
        # meets numbers no worker has cached, as a timed round does
        table, truth = gen.crawl_pages(CRAWL_PAGES, self.seed, self.epoch + 1)
        shard = os.path.join(self.workdir, "layer_shard.parquet")
        pq.write_table(table, shard, row_group_size=table.num_rows // 8)
        m["udfs.fresh_words"] = truth.attrs["fresh_words"]
        with tr.span("scan"):
            noop(spark.read.parquet(shard))
        big = spark.read.parquet(shard).persist()
        big.count()
        _quality_filter_layers(tr, m, big, cfg)
        result = quality_filter(big, cfg).persist()
        result.count()
        path = os.path.join(self.workdir, "layer_write")
        with tr.span("write"):
            result.write.mode("overwrite").partitionBy("bucket").parquet(path)
        m["write.out_mb"] = dir_mb(path)
        with tr.span("sidecar"):
            metrics_sidecar(spark.read.parquet(path), cfg).collect()
        result.unpersist()
        big.unpersist()
        return 0, 0


def _quality_filter_layers(tr: Tracer, m: dict, big, cfg) -> None:
    """The fused quality_filter projection, one layer at a time, each
    forced through its own action over the cached input."""
    with tr.span("pipeline.plan"):
        quality_filter(big, cfg)
    udf = make_text_scores_udf(cfg.stopwords)
    scored = big.withColumn("__ts", udf(F.col("text")))
    scored = scored.select(*big.columns,
                           *[F.col(f"__ts.{f}").alias(f) for f in TEXT_SCORES_FIELDS])
    cpu0 = python_worker_cpu_s(os.getpid())
    with tr.span("udfs.scores"):
        noop(scored)
    m["udfs.python_cpu_s"] = python_worker_cpu_s(os.getpid()) - cpu0
    with tr.span("dedup.verdict"):
        m["dedup.dup_rows"] = duplicate_urls(big).count()
    stats = mark_duplicates(scored).persist()
    stats.count()
    issues = F.filter(F.array(*[F.when(p, F.lit(n)) for n, p, _ in rule_exprs(cfg)]),
                      lambda x: x.isNotNull())
    with tr.span("rules"):
        m["rules.dropped_rows"] = stats.filter(F.size(issues) > 0).count()
    stats.unpersist()
    scrubbed = scrub_col(F.col("text"))
    with tr.span("scrub"):
        row = big.select(pii_hit_count(F.col("text"), scrubbed).alias("h"),
                         F.length(scrubbed).alias("n")).agg(
            F.sum((F.col("h") > 0).cast("long")), F.sum("n")).first()
    m["scrub.hit_rows"] = int(row[0] or 0)


class TrainPrep(Workload):
    """prepare_training_corpus into an aggregate sink.  MinHash
    near-dedup runs only in the traced run: inside the composed plan it
    does not finish (see the README)."""

    cfg = QualityConfig(n_buckets=8)

    def setup(self) -> None:
        self.table, self.truth = gen.train_pages(TRAIN_PAGES, self.seed)
        self.rows = self.table.num_rows
        self.path = os.path.join(self.workdir, "pages.parquet")
        pq.write_table(self.table, self.path, row_group_size=self.rows // 8)
        self.truth.to_parquet(os.path.join(self.workdir, "pages_truth.parquet"))
        self.urls = self.spark.createDataFrame(
            [(u,) for u in gen.PORT_IN_PATH_URLS], "url string").persist()
        self.urls.count()
        # warm-up round: the full output, collected for the checks
        self.result = self._corpus().toPandas()
        self.sinks = []  # every timed round's aggregate, checked after the run

    def _corpus(self):
        return pdq.prepare_training_corpus(
            self.spark.read.parquet(self.path), self.cfg, line_min_docs=LINE_MIN_DOCS,
            chunk_words=CHUNK_WORDS, overlap_words=OVERLAP_WORDS,
            pack_budget=PACK_BUDGET)

    def timed(self) -> None:
        self.sinks.append(self._corpus().agg(
            F.count("*"), F.sum("chunk_n_words"),
            F.sum(F.octet_length("chunk_text")), F.max("seq_n_words")).first())

    def out_mb(self) -> float:
        return self.sinks[-1][2] / 2**20

    def failing_ops(self) -> list:
        def port_urls() -> bool:
            got = [r[0] for r in self.urls.select(pdq.normalize_url(F.col("url"))).collect()]
            return bool(checks.check_urls(gen.PORT_IN_PATH_URLS, got))
        return [port_urls]

    def check(self) -> list[str]:
        r = self.result
        p = checks.check_train(r, self.truth, CHUNK_WORDS, OVERLAP_WORDS, PACK_BUDGET)
        sink = (len(r), int(r["chunk_n_words"].sum()),
                int(r["chunk_text"].str.encode("utf-8").str.len().sum()),
                int(r["seq_n_words"].max()))
        for k, got in enumerate(self.sinks):
            if tuple(got) != sink:
                p.append(f"timed round {k}: aggregate {tuple(got)} != checked output {sink}")
        return p + getattr(self, "near_dup_problems", []) + getattr(self, "tab_problems", [])

    def layers(self, tr: Tracer, m: dict) -> tuple[int, int]:
        self._corpus_layers(tr, m)
        # the tabular entry points ride along here; see tabular_layers
        self.tab_problems, attempted, failed = tabular_layers(
            self.spark, self.workdir, self.seed, tr)
        return attempted, failed

    def _corpus_layers(self, tr: Tracer, m: dict) -> None:
        spark, cfg = self.spark, self.cfg
        with tr.span("scan"):
            noop(spark.read.parquet(self.path))
        big = spark.read.parquet(self.path).persist()
        big.count()
        with tr.span("urls.normalize"):
            noop(big.select(pdq.normalize_url(F.col("url"))))
        _quality_filter_layers(tr, m, big, cfg)
        # each stage's input is checkpointed, so every span plans and
        # runs its own stage only
        kept = quality_filter(big.withColumn("url", pdq.normalize_url(F.col("url"))),
                              cfg, check_extraction=False)
        kept = kept.filter("keep").select("url", "lang", "text").localCheckpoint()
        n_lines = F.when(F.col("t") == "", 0).otherwise(F.size(F.split("t", "\n")))
        before = kept.select(F.col("text").alias("t")).agg(F.sum(n_lines)).first()[0]
        with tr.span("linededup"):
            clean = remove_repeated_lines(kept, "text", "url", LINE_MIN_DOCS).localCheckpoint()
        after = clean.select(F.col("clean_text").alias("t")).agg(F.sum(n_lines)).first()[0]
        m["linededup.lines_removed"] = before - after
        st: dict = {}
        with tr.span("minhash"):
            pairs = minhash_lsh_duplicates(clean, "url", "clean_text",
                                           threshold=NEAR_DUP_THRESHOLD,
                                           return_pairs=True, stats=st).localCheckpoint()
        m["minhash.pairs"] = pairs.count()
        m["minhash.hot_buckets"] = st.get("hot_buckets", 0)
        with tr.span("components"):
            comps = connected_components(pairs).toPandas()
        m["components.clusters"] = comps["comp"].nunique()
        removed = set(comps.loc[comps["id"] != comps["comp"], "id"])
        self.near_dup_problems = checks.check_near_dup(removed, self.truth)
        with tr.span("chunk"):
            chunks = chunk_documents(clean, CHUNK_WORDS, OVERLAP_WORDS, "clean_text",
                                     ("url",)).localCheckpoint()
        m["chunk.rows"] = chunks.count()
        with tr.span("pack"):
            pack_chunks(chunks, PACK_BUDGET, id_cols=("url", "chunk_id")).agg(
                F.max("seq_n_words")).first()
        big.unpersist()


def _fails(fn) -> bool:
    """Run ``fn``; True when it raises (the program's error is the
    outcome measured)."""
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            fn()
    except Exception:
        return True
    return False


def tabular_layers(spark, workdir: str, seed: int, tr: Tracer) -> tuple[list[str], int, int]:
    """dq_report, FixDQ.fit / transform and dc_report: the reference's
    own entry points, each in its span on a seeded TABLE_ROWS table and
    checked, then each once more on a small table with a constant
    numeric column, where all three fail today.  Returns the problems,
    the operations attempted (six) and the ones that failed."""
    pdf, train_mask, planted = gen.tabular(TABLE_ROWS, seed)
    with open(os.path.join(workdir, "table_truth.json"), "w") as fh:
        json.dump(planted, fh)
    sdf = spark.createDataFrame(pdf.assign(__train=train_mask))
    df = sdf.drop("__train").persist()
    train = sdf.filter("__train").drop("__train").persist()
    test = sdf.filter("not __train").drop("__train").persist()
    const = spark.createDataFrame(gen.constant_numeric_table()).persist()
    for d in (df, train, test, const):
        d.count()
    out_path = os.path.join(workdir, "fixed.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        with tr.span("dq_report"):
            findings = pdq.dq_report(df).select("column_name", "dq_issue").toPandas()
        summary = buf.getvalue()
        with tr.span("profile"):
            profile(df)
        fx = pdq.FixDQ()
        with tr.span("fix_dq.fit"):
            fx.fit(df)
        with tr.span("fix_dq.transform"):
            fx.transform(df).write.mode("overwrite").parquet(out_path)
        with tr.span("dc_report"):
            dc = pdq.dc_report(train, test).select(
                "column_name", "distribution_difference").toPandas()
        with tr.span("ks"):
            ks_2samp_many(train, test, ["score"])
    fixed = spark.read.parquet(out_path)
    imputed = [c for c in fx.state.missing_cols_ if c in fixed.columns]
    row = fixed.agg(F.count("*"), *[F.sum(F.col(c).isNull().cast("long"))
                                     for c in imputed]).first()
    nulls = {c: int(row[i + 1] or 0) for i, c in enumerate(imputed)}
    problems = checks.check_tabular(findings, summary, dc, row[0], nulls, pdf,
                                    train_mask, "score")
    failed = sum((_fails(lambda: pdq.dq_report(const).collect()),
                  _fails(lambda: pdq.FixDQ().fit(const)),
                  _fails(lambda: pdq.dc_report(const, const).collect())))
    for d in (df, train, test, const):
        d.unpersist()
    return problems, 6, failed


WORKLOADS = {"crawl_shard": CrawlShard, "train_prep": TrainPrep}
