"""End-to-end Spark pipeline tests — the repo's byte-identity gate.

The invariant from BASELINE.json: extracted text per url from the Spark
pipeline must be byte-identical to the single-threaded Python oracle
(the same extractor functions run in plain Python over the same rows).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from web_content_extraction_benchmark_spark.extractors import safe_extract
from web_content_extraction_benchmark_spark.encoding import decode_html
from web_content_extraction_benchmark_spark.plans.pipeline import (
    aggregate_scores,
    ensemble_answers,
    extract_answers,
    repartition_salted,
    score_answers,
)
from web_content_extraction_benchmark_spark.sources.pages import (
    build_page_html,
    encode_page_html,
    gold_main_text,
    synthesize_pages,
    truth_table,
    url_for,
)


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return repartition_salted(synthesize_pages(spark, sf_dir), 8).cache()


def _python_oracle(sf_dir: str, model: str) -> dict[str, str]:
    """Single-threaded reference-semantics harness (mirrors the per-row
    loop of the reference's extract.py:102-119: error/None -> '')."""
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    out = {}
    for _, row in docs.iterrows():
        doc_id = int(row.doc_id)
        raw = encode_page_html(
            doc_id, build_page_html(doc_id, row.source, row.text)
        )
        out[url_for(doc_id, row.source)] = safe_extract(model, decode_html(raw))
    return out


@pytest.mark.parametrize("model", ["main_content", "plain", "bte",
                                   "readability", "xpath_text",
                                   "tag_blacklist"])
def test_spark_byte_identical_to_python_oracle(spark, sf_dir, pages, model):
    expected = _python_oracle(sf_dir, model)
    answers = extract_answers(pages, [model])
    got = {r.url: r.plaintext for r in answers.collect()}
    assert got == expected  # byte-for-byte, every url


def test_main_content_matches_gold_truth(spark, pages):
    truth = truth_table(pages)
    answers = extract_answers(pages, ["main_content"])
    joined = answers.alias("a").join(truth.alias("t"), "url")
    mismatches = joined.filter(F.expr("a.plaintext != t.plaintext")).count()
    assert mismatches == 0


def test_extraction_deterministic_across_partitionings(spark, sf_dir):
    base = synthesize_pages(spark, sf_dir)
    a = extract_answers(repartition_salted(base, 3), ["main_content"])
    b = extract_answers(repartition_salted(base, 13, salt=7), ["main_content"])
    got_a = {r.url: r.plaintext for r in a.collect()}
    got_b = {r.url: r.plaintext for r in b.collect()}
    assert got_a == got_b


def test_lineage_sidecar_accounts_every_page(spark, pages):
    n_pages = pages.count()
    answers, lineage = extract_answers(
        pages, ["main_content", "plain"], snapshot_id=7, with_lineage=True
    )
    totals = {
        r.model: r.total
        for r in lineage.groupBy("model").agg(
            F.sum("docs_in").alias("total")
        ).collect()
    }
    assert totals == {"main_content": n_pages, "plain": n_pages}
    lineage_rows = lineage.collect()
    assert all(r.snapshot_id == 7 for r in lineage_rows)
    assert all(r.extractor_version for r in lineage_rows)
    # bytes_in is the raw html volume -> positive
    assert all(r.bytes_in > 0 for r in lineage_rows)


def test_scoring_perfect_extraction_scores_one(spark, pages):
    answers = extract_answers(pages, ["main_content"])
    scores = score_answers(answers, truth_table(pages))
    row = scores.agg(
        F.min("dist").alias("d"), F.min("f1").alias("f"),
        F.min("rec").alias("r"),
    ).collect()[0]
    assert row.d == 1.0 and row.f == 1.0 and row.r == 1.0


def test_aggregate_micro_macro_vs_pandas(spark, pages):
    answers = extract_answers(pages, ["plain"])
    scores = score_answers(answers, truth_table(pages)).cache()
    agg = aggregate_scores(scores, score_cols=("dist",))
    got = {(r.model, r.dataset): (r.mean_dist, r.median_dist)
           for r in agg.collect()}
    pdf = scores.select("model", "dataset", "dist").toPandas()
    per_ds = pdf.groupby("dataset")["dist"]
    for ds, grp in per_ds:
        mean, median = got[("plain", ds)]
        assert mean == pytest.approx(grp.mean())
        assert median == pytest.approx(grp.median())
    micro = got[("plain", "_micro")]
    assert micro[0] == pytest.approx(pdf["dist"].mean())
    assert micro[1] == pytest.approx(pdf["dist"].median())
    macro = got[("plain", "_macro")]
    assert macro[0] == pytest.approx(per_ds.mean().mean())
    assert macro[1] == pytest.approx(per_ds.median().median())


def _rdd_blocks(spark) -> int:
    return sum(info.numCachedPartitions()
               for info in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_aggregate_scores_leaves_no_cached_blocks(spark):
    """Repeated aggregation in one long-lived session must not accumulate
    cached blocks: the block count returns to its baseline."""
    scores = spark.createDataFrame(
        [(f"u{i}", f"m{i % 3}", f"d{i % 4}", i / 40.0) for i in range(40)],
        "url string, model string, dataset string, dist double",
    )
    baseline = _rdd_blocks(spark)
    for _ in range(3):
        assert len(aggregate_scores(scores, score_cols=("dist",)).collect()) \
            == 3 * 4 + 3 + 3
    assert _rdd_blocks(spark) == baseline


def test_ensemble_majority_spark(spark, pages):
    models = ["main_content", "plain", "readability"]
    answers = extract_answers(pages, models)
    voted = ensemble_answers(answers, models, vote_fraction=0.66)
    sample = {r.url: r.plaintext for r in voted.limit(50).collect()}
    assert sample
    # votes with threshold int(3*0.66)=1: every token backed by >=1 model;
    # main-content tokens always survive
    golds = {r.url: r.plaintext for r in truth_table(pages).collect()}
    for url, text in sample.items():
        gold_tokens = set(golds[url].split())
        if gold_tokens:
            assert gold_tokens <= set(text.split())


def test_stream_extract_equals_batch(spark, pages, tmp_path):
    """The extraction kernel under Structured Streaming (file source,
    2 micro-batches, append mode) must emit byte-identical answers to the
    batch plan."""
    from web_content_extraction_benchmark_spark.streaming.extract import (
        run_extract_stream_to_memory,
    )

    src = str(tmp_path / "pages_stream")
    pages.repartition(2).write.mode("overwrite").parquet(src)
    run_extract_stream_to_memory(
        spark, src, ["main_content"], query_name="t_stream_extract"
    )
    streamed = {
        r.url: r.plaintext
        for r in spark.sql(
            "SELECT url, plaintext FROM t_stream_extract"
        ).collect()
    }
    batch = {
        r.url: r.plaintext
        for r in extract_answers(pages, ["main_content"]).collect()
    }
    assert streamed == batch


def test_ensemble_fused_equals_join_plan(spark, pages):
    """The zero-shuffle fused extract+vote plan must produce exactly the
    join-based (collect_list + map) plan's output, at both thresholds."""
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        ensemble_extract,
    )

    models = ["main_content", "plain", "readability"]
    answers = extract_answers(pages, models)
    for fraction in (0.66, 0.67):
        joined = {
            r.url: r.plaintext
            for r in ensemble_answers(
                answers, models, vote_fraction=fraction
            ).collect()
        }
        fused = {
            r.url: r.plaintext
            for r in ensemble_extract(
                pages, models, vote_fraction=fraction
            ).collect()
        }
        assert fused == joined


def test_empty_and_gzip_edge_rows(spark, pages):
    answers = extract_answers(pages, ["main_content"])
    empty = answers.join(
        pages.filter(F.col("doc_id") % 101 == 0).select("url"), "url"
    )
    assert all(r.plaintext == "" for r in empty.collect())
    gz = answers.join(
        pages.filter(
            (F.col("doc_id") % 103 == 0) & (F.col("doc_id") % 101 != 0)
        ).select("url", "gold"),
        "url",
    )
    rows = gz.collect()
    assert rows and all(r.plaintext == r.gold for r in rows)


def test_ensemble_partial_answer_coverage(spark, pages):
    """Preloaded answer tables may cover only some pages: with the urls=
    page universe, uncovered pages emit '' instead of vanishing."""
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        ensemble_answers,
    )

    models = ["main_content", "plain"]
    some = pages.limit(40).cache()
    answers = extract_answers(some, models)
    universe = pages.limit(60).select("url")
    voted = {r.url: r.plaintext
             for r in ensemble_answers(
                 answers, models, urls=universe).collect()}
    assert len(voted) == 60
    covered = {r.url for r in some.select("url").collect()}
    assert all(voted[u] == "" for u in set(voted) - covered)
