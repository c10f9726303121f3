"""The three workloads as Spark pipelines over the package's public API.

Each workload object is built once per session (input registration) and
then runs ``iteration()`` repeatedly: one closed-loop pass of the whole
pipeline over the generated input, returning the summary the gate in
``reference.check`` compares.  For the traced run, the page workloads'
``prefixes()`` lists cumulative prefixes of the same pipeline, each timed
with a noop sink, a layer's self time being its prefix's increment over
the previous one; ``CorpusDedup`` exposes its chain as steps that the
traced run persists and times one at a time.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_content_extraction_benchmark_spark.operators.dedup import (
    PROD_BANDS,
    PROD_NUM_HASHES,
    decontaminate,
    drop_exact_duplicates,
    drop_near_duplicates,
    lsh_band_keys,
    minhash_lsh_pairs,
)
from web_content_extraction_benchmark_spark.operators.packing import (
    pack_sequences,
)
from web_content_extraction_benchmark_spark.operators.sampling import (
    deterministic_sample,
    quota_per_key,
)
from web_content_extraction_benchmark_spark.plans.pipeline import (
    aggregate_scores,
    extract_answers,
    repartition_salted,
    score_answers,
)
from web_content_extraction_benchmark_spark.sources.warc import read_warc

from reference import (
    JACCARD_THRESHOLD,
    MODELS,
    ROW_HASH_HEX,
    SCORE_COLS,
    SHINGLE_K,
    UNIT,
)

HOST_QUOTA = 60
SAMPLE_FRACTION = 0.5
PACK_CAPACITY = 4096


def row_hash_col(*cols: str):
    """40-bit sha256 prefix of NUL-joined columns (reference.row_hash)."""
    digest = F.sha2(F.concat_ws("\u0000", *[F.col(c) for c in cols]), 256)
    return F.conv(F.substring(digest, 1, ROW_HASH_HEX), 16, 10).cast("long")


def noop(df: DataFrame) -> None:
    """Run a plan to completion without a sink cost."""
    df.write.format("noop").mode("overwrite").save()


class ExtractShort:
    """Salted repartition, two tree extractors, per-model length aggregate."""

    name = "extract-short"

    def __init__(self, spark: SparkSession, path: str, cpus: int):
        self.pages = spark.read.parquet(path)
        self.parts = 2 * cpus
        self.models = MODELS[self.name]

    def _answers(self, pages):
        return extract_answers(repartition_salted(pages, self.parts),
                               self.models)

    def iteration(self) -> dict:
        rows = self._answers(self.pages.select("url", "html")).groupBy(
            "model"
        ).agg(
            F.count("*").alias("rows"),
            F.sum(F.length("plaintext")).alias("chars"),
            F.sum(F.col("error").cast("long")).alias("errors"),
            F.sum(row_hash_col("url", "model", "plaintext")).alias("hash"),
        ).collect()
        return {"models": {r["model"]: {k: int(r[k]) for k in
                                        ("rows", "chars", "errors", "hash")}
                           for r in rows}}

    def prefixes(self):
        pages = self.pages.select("url", "html")
        yield "scan", lambda: noop(pages)
        yield "exchange", lambda: noop(repartition_salted(pages, self.parts))
        yield "extract", lambda: noop(self._answers(pages))
        yield "aggregate", self.iteration


class EvalLong:
    """Three extractors, score against truth, per-dataset/micro/macro
    aggregate.  An extraction error row is scored like any other row (its
    plaintext is empty); its flag rides through the score join in the model
    name and comes out as the ``err`` score column, so the aggregate also
    carries each group's error share."""

    name = "eval-long"

    def __init__(self, spark: SparkSession, path: str, cpus: int):
        # At the paper's corpus size the truth side is far above Spark's
        # broadcast threshold and the answers-truth join ships plaintext
        # through an exchange; at this input size Spark would broadcast it.
        # Turning broadcast off keeps the plan of the real workload.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        self.pages = spark.read.parquet(path)
        self.truth = self.pages.select(
            "url", "dataset", F.col("truth").alias("plaintext"))
        self.models = MODELS[self.name]

    def _answers(self):
        return extract_answers(self.pages.select("url", "html"), self.models)

    def _scores(self):
        marked = self._answers().withColumn(
            "model",
            F.when(F.col("error"), F.concat("model", F.lit("#error")))
            .otherwise(F.col("model")),
        )
        scored = score_answers(marked, self.truth)
        return scored.select(
            "url",
            F.regexp_replace("model", "#error$", "").alias("model"),
            "dataset", "dist", "prec", "rec", "f1",
            F.col("model").endswith("#error").cast("double").alias("err"),
        )

    def iteration(self) -> dict:
        scores = self._scores().persist()
        try:
            rows = aggregate_scores(scores, score_cols=SCORE_COLS,
                                    unit_scale=UNIT).collect()
        finally:
            scores.unpersist()
        return {"aggregate": sorted([list(r) for r in rows])}

    def prefixes(self):
        yield "scan", lambda: noop(self.pages.select("url", "html"))
        yield "extract", lambda: noop(self._answers())
        yield "score", lambda: noop(self._scores())
        yield "aggregate", self.iteration


class CorpusDedup:
    """WARC ingest, salted repartition, extraction, exact and near dedup,
    decontamination, per-host quota, sampling, packing, parquet sink."""

    name = "corpus-dedup"

    def __init__(self, spark: SparkSession, path: str, cpus: int,
                 bench_text: str, out_dir: str):
        self.spark = spark
        self.path = path
        self.out_dir = out_dir
        self.parts = 2 * cpus
        self.bench = spark.createDataFrame([(bench_text,)], "text string")
        # one .warc.gz per task (the files are far below the default
        # split size, which would otherwise pack them into few tasks)
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       str(min(os.path.getsize(os.path.join(path, f))
                               for f in os.listdir(path))))

    def records(self):
        return read_warc(self.spark, self.path).select("url", "html")

    def salted(self, records):
        """The crawl records spread by salted url hash: one host's pages
        cluster in a few files, and every 5th page is on one host."""
        return repartition_salted(records, self.parts)

    def extracted(self, pages=None):
        if pages is None:
            pages = self.salted(self.records())
        answers = extract_answers(pages, MODELS[self.name])
        return answers.select(
            F.regexp_extract("url", r"/(\d+)$", 1).cast("long").alias("doc_id"),
            F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host"),
            F.regexp_replace("plaintext", r"\s+", " ").alias("text"),
            "error",
        )

    @staticmethod
    def docs(extracted):
        return extracted.filter(
            ~F.col("error") & (F.length("text") > 0)
        ).select("doc_id", "host", "text")

    def pairs(self, d1):
        return minhash_lsh_pairs(
            d1, num_hashes=PROD_NUM_HASHES, bands=PROD_BANDS,
            jaccard_threshold=JACCARD_THRESHOLD, hash_fn="oph",
        )

    def decontaminated(self, d2):
        return decontaminate(d2, self.bench, k=SHINGLE_K)

    @staticmethod
    def tail(d3):
        capped = quota_per_key(d3, HOST_QUOTA, key_col="host")
        sampled = deterministic_sample(capped, SAMPLE_FRACTION,
                                       key_col="doc_id")
        counted = sampled.select(
            "doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
        packed = pack_sequences(counted, PACK_CAPACITY)
        return sampled.join(packed, "doc_id")

    def write(self, df) -> None:
        df.write.mode("overwrite").parquet(self.out_dir)

    def iteration(self) -> dict:
        extracted = self.extracted().persist()
        d1 = pairs = None
        try:
            stats = extracted.agg(
                F.count("*").alias("rows"),
                F.sum(F.col("error").cast("long")).alias("errors"),
            ).first()
            d1 = drop_exact_duplicates(self.docs(extracted)).persist()
            exact_ids = sorted(r[0] for r in d1.select("doc_id").collect())
            pairs = self.pairs(d1).persist()
            pair_rows = sorted(tuple(r) for r in pairs.collect())
            d2 = drop_near_duplicates(d1, pairs)
            self.write(self.tail(self.decontaminated(d2)))
        finally:
            for df in (pairs, d1, extracted):
                if df is not None:
                    df.unpersist()
        return {"rows": int(stats["rows"]), "errors": int(stats["errors"]),
                "exact_ids": exact_ids,
                "pairs": [[a, b, j] for a, b, j in pair_rows]}

    def written_ids(self) -> list[int]:
        return sorted(r[0] for r in self.spark.read.parquet(self.out_dir)
                      .select("doc_id").collect())

    def candidate_pairs(self, d1) -> int:
        """Distinct id pairs sharing a band key: the LSH candidates that
        minhash_lsh_pairs verifies (same signature settings)."""
        banded = lsh_band_keys(d1, "text", "doc_id", PROD_NUM_HASHES,
                               PROD_BANDS, "oph")
        left = banded.select(F.col("id").alias("a"), "band", "key")
        right = banded.select(F.col("id").alias("b"), "band", "key")
        return (left.join(right, ["band", "key"])
                .filter(F.col("a") < F.col("b"))
                .select("a", "b").distinct().count())


def build(workload: str, spark: SparkSession, meta: dict, cpus: int,
          out_dir: str):
    """The workload object over the generated input described by meta."""
    path = meta["main"]
    if workload == "extract-short":
        return ExtractShort(spark, path, cpus)
    if workload == "eval-long":
        return EvalLong(spark, path, cpus)
    if workload == "corpus-dedup":
        shutil.rmtree(out_dir, ignore_errors=True)
        return CorpusDedup(spark, path, cpus, meta["bench_text"], out_dir)
    raise ValueError(f"unknown workload {workload!r}")
