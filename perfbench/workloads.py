"""The benchmark's workloads.

Each workload builds its inputs from the seed, prepares untimed state,
then exposes one timed call (a closed loop of one caller repeats it), the
output checks, and the per-layer metrics read after traced calls. All
product functions are called with their defaults, so the benchmark
follows whatever serving shape the product runs.

- ``filter_web``: the whole quality job over a multi-file web corpus —
  ``train_quality_models`` on one document in eight, then
  ``run_resumable`` over all of them at 16 buckets. Measured on a 4-vCPU
  VM at 8k documents: the serving job (scan, Python UDFs, native
  heuristics, partitioned write) is about half of a call's wall, training
  about a fifth, resume planning and the lineage append the rest; the
  Python UDFs take about 40% of the call's CPU.
- ``near_dedup``: ``minhash_near_duplicates`` then ``canonical_documents``
  over unique documents with 1% planted one-word-off near-duplicates.
  Shuffles, joins and ``localCheckpoint`` rounds; no quality UDF.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from language_identification_spark.fixtures.pages import gen_pages
from language_identification_spark.functions.scrub import scrub_series
from language_identification_spark.functions.text import repetition_features_udf
from language_identification_spark.operators.dedup import (
    canonical_documents,
    dedup_components,
    minhash_lsh_candidates,
    minhash_near_duplicates,
    minhash_signatures,
    pair_cache_scope,
)
from language_identification_spark.oracle.pipeline import (
    run_oracle_pipeline,
    train_oracle_models,
)
from language_identification_spark.pipeline.lineage import (
    completed_buckets,
    input_snapshot_id,
    run_resumable,
)
from language_identification_spark.pipeline.quality import train_quality_models

from measure import executions, node_sum, observe_exprs, spark_jobs

FILTER_BUCKETS = 16
TRAIN_EVERY = 8
DUP_EVERY = 100  # one planted near-duplicate per 100 documents
DEDUP_WORDS, DEDUP_VOCAB = 40, 1000
STAGE_REPS = 3
INSERT = "Execute InsertIntoHadoopFsRelationCommand"  # a file write's plan node


@dataclass(frozen=True)
class Scale:
    filter_docs: int
    dedup_docs: int
    files: int  # input parquet files, so every core gets scan tasks
    sample_docs: int  # oracle sample and serving-stage sample


FULL = Scale(filter_docs=8_000, dedup_docs=16_000, files=8, sample_docs=400)
SMOKE = Scale(filter_docs=400, dedup_docs=1_000, files=4, sample_docs=100)


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    scale: Scale

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _write_files(pdf, path: str, files: int) -> None:
    """Write ``pdf`` as ``files`` parquet files, rows dealt round-robin so
    every file carries every document shape."""
    os.makedirs(path)
    for k in range(files):
        part = pdf.iloc[k::files].reset_index(drop=True)
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(path, f"part-{k:03d}.parquet"))


def pages_corpus(seed: int, n: int):
    """The web-page fixture for ``seed``: 8 languages, all 20 anomaly
    modes. Hosts carry the seed so bucket assignment varies with it. One
    document in ``TRAIN_EVERY`` of each language is in the train split
    (the fixture's own split trains on 80%), so the job grows with the
    served corpus rather than with training."""
    pdf = gen_pages(n_rows=n, seed=seed)
    pdf["url"] = pdf["url"].str.replace("https://", f"https://s{seed}.", regex=False)
    ordinal = pdf.groupby("lang").cumcount()
    pdf["split"] = np.where(ordinal % TRAIN_EVERY == 0, "train", "test")
    return pdf


def lsh_corpus(seed: int, n: int):
    """(doc_id, text): unique random-word documents; every document with
    ``id % DUP_EVERY == 1`` copies its predecessor with the first word
    replaced, so the near-duplicate pairs are exactly the planted ones."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    words = rng.integers(0, DEDUP_VOCAB, size=(n, DEDUP_WORDS))
    ids = np.arange(n, dtype=np.int64)
    dup = (ids % DUP_EVERY == 1) & (ids > 0)
    words[dup] = words[ids[dup] - 1]
    texts = [
        ("zdup" if d else f"w{row[0]}") + "".join(f" w{w}" for w in row[1:])
        for d, row in zip(dup.tolist(), words.tolist())
    ]
    return pd.DataFrame({"doc_id": ids, "text": texts}), ids[dup]


def _serving_stages(tracer, models, texts) -> dict[str, float]:
    """Median ms per 1000 docs of each Python stage the default (native)
    serving path runs, called directly on the normalized sample in this
    process: the scoring UDF's langid, perplexity and scrub, and the body
    of the repetition-feature UDF."""
    import pandas as pd

    norm = pd.Series(list(texts)).fillna("").str.strip()
    as_list = norm.tolist()
    repetition = repetition_features_udf().func
    stages = {
        "functions.text.repetition_ms_per_kdoc": lambda: repetition(norm),
        "functions.scrub.scrub_ms_per_kdoc": lambda: scrub_series(norm),
        "models.hashed_ngram.langid_ms_per_kdoc":
            lambda: models.langid.predict_labels(as_list),
        "models.perplexity.ppl_ms_per_kdoc": lambda: models.lm.perplexity_batch(as_list),
    }
    out = {}
    for name, fn in stages.items():
        walls = []
        with tracer.span(name):
            for _ in range(STAGE_REPS):
                t0 = time.perf_counter()
                fn()
                walls.append(time.perf_counter() - t0)
        out[name] = statistics.median(walls) * 1e6 / len(as_list)
    return out


def _quality_layers(spark, train_labels, run_labels) -> dict[str, float]:
    """Spark-side metrics of traced ``train_quality_models`` and
    ``run_resumable`` calls, median over calls."""
    med = statistics.median
    out: dict[str, float] = {}
    if train_labels:
        tr = [executions(spark, lb) for lb in train_labels]
        out["pipeline.quality.train_python_s"] = med(
            node_sum(ex, "MapInPandas", "time to run Python workers") for ex in tr)
        out["pipeline.quality.train_shuffle_bytes"] = med(
            node_sum(ex, "Exchange", "shuffle bytes written") for ex in tr)
    rows = []
    for lb in run_labels:
        ex = executions(spark, lb)
        write = [e for e in ex if any(n == "ArrowEvalPython" for n, _ in e["nodes"])]
        appends = [e for e in ex if e not in write and any(
            n.startswith(INSERT) for n, _ in e["nodes"])]
        rows.append({
            "pipeline.quality.python_worker_s":
                node_sum(write, "ArrowEvalPython", "time to run Python workers"),
            "pipeline.quality.bytes_to_python":
                node_sum(write, "ArrowEvalPython", "data sent to Python workers"),
            "pipeline.quality.bytes_from_python":
                node_sum(write, "ArrowEvalPython", "data returned from Python workers"),
            "pipeline.quality.serving_job_s": sum(e["duration_s"] for e in write),
            "pipeline.lineage.write_commit_s": sum(
                node_sum(write, INSERT, m) for m in ("task commit time", "job commit time")),
            "pipeline.lineage.append_s": sum(e["duration_s"] for e in appends),
            "pipeline.lineage.files_written": node_sum(write, INSERT, "number of written files"),
            "pipeline.lineage.bytes_written": node_sum(write, INSERT, "written output"),
            "pipeline.lineage.observe_exprs": float(sum(observe_exprs(e["plan"]) for e in write)),
        })
    for key in rows[0] if rows else ():
        out[key] = med(r[key] for r in rows)
    return out


def _resume_plan_s(spark, pages, lineage_dir: str) -> float:
    """Median wall of the resume planning step: the input fingerprint plus
    the completed-bucket read of the lineage table."""
    walls = []
    for _ in range(STAGE_REPS):
        t0 = time.perf_counter()
        completed_buckets(spark, lineage_dir, input_snapshot=input_snapshot_id(pages))
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def read_parquet(path: str, columns: list[str]):
    """A Spark-written parquet directory (hive-partitioned if it is) as
    pandas, read in this process so checks submit no Spark job."""
    return pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns).to_pandas()


def _lineage_checks(written, lineage_dir: str, n_buckets: int):
    """Exactly one lineage row per bucket, and per-bucket ``n_input`` /
    ``n_kept`` equal to the rows and kept rows of ``written`` (the output
    as read back, with ``bucket`` and ``keep``)."""
    lineage = read_parquet(lineage_dir, ["bucket", "n_input", "n_kept"])
    one_row = sorted(lineage["bucket"]) == list(range(n_buckets))
    per_bucket = written.groupby(written["bucket"].astype(int))["keep"].agg(["size", "sum"])
    got = {int(b): (int(r["size"]), int(r["sum"])) for b, r in per_bucket.iterrows()}
    want = {int(r.bucket): (int(r.n_input), int(r.n_kept)) for r in lineage.itertuples()}
    reconciled = got == {b: v for b, v in want.items() if v[0] > 0}
    return [("lineage_one_row_per_bucket", one_row), ("lineage_reconciles_output", reconciled)]


class FilterWeb:
    name = "filter_web"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n = ctx.scale.filter_docs
        self.last = None  # (models, out_dir, lineage_dir) of the latest call
        self.train_labels: list[str] = []
        self.run_labels: list[str] = []

    def build(self, rep: int) -> None:
        self.pdf = pages_corpus(self.ctx.seed, self.n)
        self.src = self.ctx.path(f"pages{rep}")
        _write_files(self.pdf, self.src, self.ctx.scale.files)

    def prepare(self) -> None:
        """One untimed job over the corpus, so the timed calls find the
        Python workers started and the JVM's hot paths compiled."""
        self.pages = self.ctx.spark.read.parquet(self.src)
        with self.ctx.tracer.span("warm_up"):
            self.call("warm")
        self.train_labels.clear()  # layer metrics come from timed calls only
        self.run_labels.clear()

    def call(self, i) -> tuple[int, float, dict]:
        spark, tr = self.ctx.spark, self.ctx.tracer
        out, lin = self.ctx.path(f"filter{i}", "out"), self.ctx.path(f"filter{i}", "lineage")
        t0 = time.perf_counter()
        with tr.span("train_quality_models") as lb:
            models = train_quality_models(self.pages.filter("split = 'train'"))
        t1 = time.perf_counter()
        if lb:
            self.train_labels.append(lb)
        with tr.span("run_resumable") as lb:
            run_resumable(spark, self.pages, models, out, lin, n_buckets=FILTER_BUCKETS)
        wall = time.perf_counter() - t0
        if lb:
            self.run_labels.append(lb)
        self.last = (models, out, lin)
        return self.n, wall, {"pipeline.quality.train_s": t1 - t0}

    def checks(self):
        _models, out, lin = self.last
        rng = np.random.default_rng(self.ctx.seed)
        sample = self.pdf.iloc[np.sort(rng.choice(self.n, self.ctx.scale.sample_docs, replace=False))]
        train = self.pdf[self.pdf["split"] == "train"]
        nb, lm = train_oracle_models(train[["text", "lang"]])
        want = run_oracle_pipeline(sample, nb, lm)
        cols = ["url", "keep", "lang_pred", "scrubbed_text"]
        written = read_parquet(out, cols + ["bucket"])
        got = written[written["url"].isin(sample["url"])][cols]
        merged = want[cols].merge(got, on="url", how="outer", suffixes=("_o", "_s"),
                                  indicator=True)
        oracle_ok = len(got) == len(want) and (merged["_merge"] == "both").all() and all(
            (merged[f"{c}_o"] == merged[f"{c}_s"]).all() for c in cols[1:])
        return [("filter_matches_oracle", bool(oracle_ok))] + _lineage_checks(
            written, lin, FILTER_BUCKETS)

    def layers(self) -> dict[str, float]:
        spark = self.ctx.spark
        models, _out, lin = self.last
        out = _quality_layers(spark, self.train_labels, self.run_labels)
        out.update(_serving_stages(self.ctx.tracer, models,
                                   self.pdf["text"].iloc[: self.ctx.scale.sample_docs]))
        with self.ctx.tracer.span("resume_plan"):
            out["pipeline.lineage.resume_plan_s"] = _resume_plan_s(spark, self.pages, lin)
        return out


class NearDedup:
    name = "near_dedup"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n = ctx.scale.dedup_docs
        self.last = None  # survivors dir of the latest call
        self.run_labels: list[str] = []

    def build(self, rep: int) -> None:
        pdf, self.dup_ids = lsh_corpus(self.ctx.seed, self.n)
        self.src = self.ctx.path(f"docs{rep}")
        _write_files(pdf, self.src, self.ctx.scale.files)

    def _dedup(self, docs, out: str) -> None:
        with pair_cache_scope():
            pairs = minhash_near_duplicates(docs)
            canonical_documents(docs, pairs).write.parquet(out)

    def prepare(self) -> None:
        """Untimed warm-up of both stages, so the timed calls find the
        Python workers started and the JVM's hot paths compiled: the pairs
        of the corpus, written and kept for the output check, then the
        canonical documents from them."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        self.docs = spark.read.parquet(self.src)
        pairs_dir = self.ctx.path("warm_pairs")
        with tr.span("warm_up"), pair_cache_scope():
            minhash_near_duplicates(self.docs).write.parquet(pairs_dir)
            canonical_documents(self.docs, spark.read.parquet(pairs_dir)).write.parquet(
                self.ctx.path("warm_out"))
        self.pairs = read_parquet(pairs_dir, ["id_a", "id_b"])

    def call(self, i) -> tuple[int, float, dict]:
        out = self.ctx.path(f"dedup{i}")
        t0 = time.perf_counter()
        with self.ctx.tracer.span("near_dedup") as lb:
            self._dedup(self.docs, out)
        wall = time.perf_counter() - t0
        if lb:
            self.run_labels.append(lb)
        self.last = out
        return self.n, wall, {}

    def checks(self):
        survivors = read_parquet(self.last, ["doc_id"])["doc_id"]
        want = set(range(self.n)) - set(self.dup_ids.tolist())
        surv_ok = len(survivors) == len(want) and set(survivors.tolist()) == want
        pairs = self.pairs
        got = set(zip(pairs["id_a"].tolist(), pairs["id_b"].tolist()))
        planted = {(int(d) - 1, int(d)) for d in self.dup_ids}
        pairs_ok = len(pairs) == len(got) and got == planted
        return [("dedup_survivors_planted", surv_ok), ("dedup_pairs_planted", pairs_ok)]

    def layers(self) -> dict[str, float]:
        """Each dedup stage as its own timed call on materialized inputs,
        plus the Spark work of the traced end-to-end calls."""
        spark, docs, tr = self.ctx.spark, self.docs, self.ctx.tracer
        pairs_dir = self.ctx.path("pairs")

        def timed(name: str, fn) -> float:
            t0 = time.perf_counter()
            with tr.span(name), pair_cache_scope():
                fn()
            return time.perf_counter() - t0

        out = {
            "operators.dedup.pairs_s": timed(
                "minhash_near_duplicates",
                lambda: minhash_near_duplicates(docs).write.parquet(pairs_dir)),
        }
        pairs = spark.read.parquet(pairs_dir)
        out["operators.dedup.components_s"] = timed(
            "dedup_components",
            lambda: dedup_components(pairs).write.format("noop").mode("overwrite").save())
        out["operators.dedup.canonical_s"] = timed(
            "canonical_documents",
            lambda: canonical_documents(docs, pairs).write.format("noop")
            .mode("overwrite").save())
        with tr.span("minhash_lsh_candidates"), pair_cache_scope():
            candidates = minhash_lsh_candidates(minhash_signatures(docs)).count()
        out["operators.dedup.lsh_candidates"] = float(candidates)
        out["operators.dedup.verify_yield"] = pairs.count() / max(candidates, 1)
        med = statistics.median
        execs = [executions(spark, lb) for lb in self.run_labels]
        out["operators.dedup.spark_jobs"] = med(float(spark_jobs(spark, lb)) for lb in self.run_labels)
        out["operators.dedup.shuffle_bytes"] = med(
            node_sum(ex, "Exchange", "shuffle bytes written") for ex in execs)
        out["operators.dedup.spill_bytes"] = med(node_sum(ex, "", "spill size") for ex in execs)
        return out


WORKLOADS = {w.name: w for w in (FilterWeb, NearDedup)}
