"""Per-layer metrics of the traced run (``--trace 1``).

Three sources, all outside the package:

* single-thread kernel costs: the package's pure functions timed one call
  at a time over a seeded sample of the workload's own pages;
* for the page workloads, cumulative prefixes of the pipeline, each run to
  a noop sink inside a Spark job group, a layer's self time being its
  prefix's increment over the previous prefix; for the dedup chain, each
  step run on its persisted, materialised input; the job groups' stage
  metrics give shuffle bytes, run time, GC and task skew;
* block-manager storage sampled after every timed-window iteration.

Metrics of layers a workload does not run (say, dedup on eval-long) read 0.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pyarrow.parquet as pq

from web_content_extraction_benchmark_spark.dom import parse_html
from web_content_extraction_benchmark_spark.encoding import decode_html
from web_content_extraction_benchmark_spark.extractors import (
    EXTRACTORS,
    TREE_EXTRACTORS,
)
from web_content_extraction_benchmark_spark.functions.scoring import (
    rouge_lsum,
    token_levenshtein_ratio,
)
from web_content_extraction_benchmark_spark.operators.dedup import (
    drop_exact_duplicates,
    drop_near_duplicates,
)

from reference import check, output_errors, read_warc_pages
from spantrace import SparkStats, Tracer

PER_LAYER = {
    "session.start_s": "s", "session.worker_warm_s": "s",
    "sources.scan_s": "s", "sources.warc_read_s": "s",
    "sources.warc_records_per_s": "1/s", "sources.input_mb": "MB",
    "exchange.repartition_s": "s", "exchange.shuffle_write_mb": "MB",
    "exchange.shuffle_read_mb": "MB", "exchange.task_skew": "ratio",
    "encoding.decode_us_per_doc": "us", "dom.parse_us_per_doc": "us",
    "extractors.main_content_us_per_doc": "us",
    "extractors.readability_us_per_doc": "us",
    "extractors.plain_us_per_doc": "us", "extractors.bte_us_per_doc": "us",
    "pipeline.extract_s": "s", "pipeline.extract_run_s": "s",
    "pipeline.extract_gc_s": "s", "pipeline.extract_errors": "count",
    "scoring.rouge_us_per_pair": "us", "scoring.levenshtein_us_per_pair": "us",
    "pipeline.score_s": "s", "pipeline.score_exchange_mb": "MB",
    "pipeline.aggregate_s": "s",
    "dedup.exact_s": "s", "dedup.lsh_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio",
    "dedup.components_s": "s", "dedup.decontam_s": "s", "corpus.tail_s": "s",
    "sink.write_s": "s", "sink.files": "count", "sink.mb_written": "MB",
    "state.cached_mb_after": "MB", "state.rdd_blocks_after": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.spill_mb": "MB",
    "trace.untraced_iter_s": "s", "trace.traced_iter_s": "s",
    "trace.overhead_s": "s", "trace.prefix_coverage": "ratio",
}
KERNEL_SAMPLE = 200
KERNEL_MODELS = ("main_content", "readability", "plain", "bte")


# ------------------------------------------------------------ kernel costs

def _sample_pages(workload: str, meta: dict) -> list[tuple[bytes, str | None]]:
    """(html bytes, truth or None) for a seeded sample of the main input."""
    if workload == "corpus-dedup":
        pages = [(body, None) for _url, body in read_warc_pages(meta["main"])]
    else:
        cols = ["html"] + (["truth"] if workload == "eval-long" else [])
        rows = []
        for name in sorted(os.listdir(meta["main"])):
            table = pq.read_table(os.path.join(meta["main"], name),
                                  columns=cols).to_pydict()
            rows += zip(table["html"], table.get("truth", [None] * len(
                table["html"])))
        pages = rows
    rng = random.Random(f"kernel-sample:{meta['seed']}")
    return rng.sample(pages, min(KERNEL_SAMPLE, len(pages)))


def kernel_costs(workload: str, meta: dict, tracer: Tracer) -> dict:
    """Single-thread µs per call of decode, parse, each extractor and the
    two scorers.  Score pairs are (truth, main_content answer), or
    (plain answer, main_content answer) where a page has no truth."""
    ns = {k: 0 for k in ("decode", "parse", *KERNEL_MODELS, "rouge", "lev")}
    clock = time.perf_counter_ns
    sample = _sample_pages(workload, meta)
    with tracer.span("kernels", pages=len(sample)):
        for blob, truth in sample:
            t = clock()
            html = decode_html(blob)
            ns["decode"] += clock() - t
            t = clock()
            try:
                root = parse_html(html)
            except Exception:
                root = None
            ns["parse"] += clock() - t
            answers = {}
            for model in KERNEL_MODELS:
                fn = TREE_EXTRACTORS.get(model)
                t = clock()
                try:
                    answers[model] = (fn(root) if fn and root is not None
                                      else EXTRACTORS[model](html)) or ""
                except Exception:
                    answers[model] = ""
                ns[model] += clock() - t
            target = truth if truth is not None else answers["plain"]
            t = clock()
            rouge_lsum(target, answers["main_content"])
            ns["rouge"] += clock() - t
            t = clock()
            token_levenshtein_ratio(target, answers["main_content"])
            ns["lev"] += clock() - t
    per = {k: v / 1e3 / len(sample) for k, v in ns.items()}
    out = {"encoding.decode_us_per_doc": per["decode"],
           "dom.parse_us_per_doc": per["parse"],
           "scoring.rouge_us_per_pair": per["rouge"],
           "scoring.levenshtein_us_per_pair": per["lev"]}
    for model in KERNEL_MODELS:
        out[f"extractors.{model}_us_per_doc"] = per[model]
    return out


# ------------------------------------------------------------ Spark layers

def _spark_totals(t: dict) -> dict:
    return {
        "spark.jobs": t["jobs"], "spark.stages": t["stages"],
        "spark.tasks": t["numTasks"],
        "spark.executor_cpu_s": t["executorCpuTime"] / 1e9,
        "spark.gc_s": t["jvmGcTime"] / 1e3,
        "spark.spill_mb": (t["memoryBytesSpilled"]
                           + t["diskBytesSpilled"]) / 1e6,
        "exchange.shuffle_write_mb": t["shuffleWriteBytes"] / 1e6,
        "exchange.shuffle_read_mb": t["shuffleReadBytes"] / 1e6,
    }


def page_layers(workload, ref, tracer: Tracer, stats: SparkStats):
    """Cumulative noop-sink prefixes of a parquet-page workload, one run
    each; returns (metrics, the last full iteration's output)."""
    times: dict[str, float] = {}
    totals: dict[str, dict] = {}
    outputs = []
    prefixes = list(workload.prefixes())
    for i, (name, run) in enumerate(prefixes):
        if i == len(prefixes) - 1:
            # an untraced iteration right before the traced one (the last
            # prefix), so host-load drift since the timed window cancels out
            t = time.perf_counter()
            outputs.append(workload.iteration())
            untraced = time.perf_counter() - t
        label = f"prefix:{name}"
        with stats.group(label), tracer.span(f"prefix.{name}"):
            t = time.perf_counter()
            result = run()
            times[name] = time.perf_counter() - t
        if result is not None:
            outputs.append(result)
        totals[name] = stats.totals(label)
    for out in outputs:
        problems = check(workload.name, out, ref)
        if problems:
            raise RuntimeError(f"traced iteration failed the gate: {problems}")
    names = list(times)
    inc = {n: times[n] - (times[names[i - 1]] if i else 0.0)
           for i, n in enumerate(names)}
    prev = names[names.index("extract") - 1]
    ext, before = totals["extract"], totals[prev]
    last = names[-1]
    m = {
        "sources.scan_s": inc["scan"],
        "exchange.repartition_s": inc.get("exchange", 0.0),
        "exchange.task_skew": ext["task_skew"],
        "pipeline.extract_s": inc["extract"],
        "pipeline.extract_run_s": (ext["executorRunTime"]
                                   - before["executorRunTime"]) / 1e3,
        "pipeline.extract_gc_s": (ext["jvmGcTime"] - before["jvmGcTime"]) / 1e3,
        "pipeline.score_s": inc.get("score", 0.0),
        "pipeline.score_exchange_mb": (
            (totals["score"]["shuffleWriteBytes"] - ext["shuffleWriteBytes"])
            / 1e6 if "score" in totals else 0.0),
        "pipeline.aggregate_s": inc["aggregate"],
        "trace.untraced_iter_s": untraced,
        "trace.traced_iter_s": times[last],
        # the increments telescope: their sum is the last prefix
        "prefix_sum": times[last],
    }
    m.update(_spark_totals(totals[last]))
    return m, outputs[-1]


def corpus_steps(workload, tracer: Tracer, stats: SparkStats) -> dict:
    """The dedup chain one step at a time, each step's output persisted and
    materialised, so every step reads materialised input and its wall time
    is its own cost (plus caching its output)."""
    def timed(label, fn):
        with stats.group(label), tracer.span(label):
            t = time.perf_counter()
            result = fn()
            return time.perf_counter() - t, result

    # let adaptive execution shape persisted plans as it shapes the
    # iteration's uncached ones (coalesced shuffle reads: the sink writes as
    # many files as the iteration's)
    conf = workload.spark.conf
    conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
             "true")
    held, rows = [], {}

    def step(label, df):
        df = df.persist()
        held.append(df)
        t, rows[label] = timed(label, df.count)
        return t, df

    t_read, records = step("corpus.read", workload.records())
    t_exchange, pages = step("corpus.exchange", workload.salted(records))
    t_extract, extracted = step("corpus.extract", workload.extracted(pages))
    t_exact, d1 = step("corpus.exact",
                       drop_exact_duplicates(workload.docs(extracted)))
    pairs = workload.pairs(d1).persist()
    held.append(pairs)
    t_lsh, pair_rows = timed("corpus.lsh", pairs.collect)
    t_near, d2 = timed("corpus.components",
                       lambda: drop_near_duplicates(d1, pairs))
    t_d2, d2 = step("corpus.components_scan", d2)
    t_decontam, d3 = step("corpus.decontam", workload.decontaminated(d2))
    t_tail, final = step("corpus.tail", workload.tail(d3))
    t_sink, _ = timed("corpus.sink", lambda: workload.write(final))
    with stats.group("corpus.candidates"):
        candidates = workload.candidate_pairs(d1)
    for df in reversed(held):
        df.unpersist()
    conf.unset("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
    ext_totals = stats.totals("corpus.extract")
    steps = {
        "sources.warc_read_s": t_read,
        "exchange.repartition_s": t_exchange,
        "pipeline.extract_s": t_extract,
        "dedup.exact_s": t_exact,
        "dedup.lsh_s": t_lsh,
        "dedup.components_s": t_near + t_d2,
        "dedup.decontam_s": t_decontam,
        "corpus.tail_s": t_tail,
        "sink.write_s": t_sink,
    }
    m = dict(steps)
    m.update({
        "prefix_sum": sum(steps.values()),
        "sources.warc_records_per_s": rows["corpus.read"] / t_read,
        "exchange.task_skew": ext_totals["task_skew"],
        "pipeline.extract_run_s": ext_totals["executorRunTime"] / 1e3,
        "pipeline.extract_gc_s": ext_totals["jvmGcTime"] / 1e3,
        "dedup.candidate_pairs": candidates,
        "dedup.verified_pairs": len(pair_rows),
        "dedup.verify_yield": len(pair_rows) / candidates if candidates else 0.0,
    })
    return m


def corpus_layers(workload, ref, tracer: Tracer, stats: SparkStats):
    """One whole traced iteration of the dedup chain: the traced wall, the
    Spark counts and the sink's files.  Returns (metrics, its output)."""
    with stats.group("corpus.iteration"), tracer.span("iteration"):
        t = time.perf_counter()
        out = workload.iteration()
        t_iter = time.perf_counter() - t
    problems = check(workload.name, out, ref)
    if problems:
        raise RuntimeError(f"traced iteration failed the gate: {problems}")
    files = [os.path.join(workload.out_dir, f)
             for f in os.listdir(workload.out_dir) if f.startswith("part-")]
    m = {"trace.traced_iter_s": t_iter, "sink.files": len(files),
         "sink.mb_written": sum(os.path.getsize(f) for f in files) / 1e6}
    m.update(_spark_totals(stats.totals("corpus.iteration")))
    return m, out


def traced_run(workload_name, session, meta, ref, window, run_id,
               results_dir):
    """The traced run: kernel costs, the timed window (``window`` runs it,
    calling its argument after every iteration, here to sample
    block-manager storage) and the workload's layers.  Returns (every
    PER_LAYER metric as result-line entries, window walls, window
    outputs)."""
    tracer = Tracer(run_id)
    stats = SparkStats(session.spark)
    state = []
    m = {name: 0.0 for name in PER_LAYER}
    m["session.start_s"] = session.start_s
    m["session.worker_warm_s"] = session.worker_warm_s
    m["sources.input_mb"] = meta["input_mb"]
    corpus = workload_name == "corpus-dedup"
    with tracer.span("traced-run", workload=workload_name):
        m.update(kernel_costs(workload_name, meta, tracer))
        if corpus:
            # the step pass first, so that it is the chain's first pass, as
            # the untraced run's window is, and the window's iteration runs
            # next to the traced one
            m.update(corpus_steps(session.workload, tracer, stats))
        walls, outs = window(lambda: state.append(stats.storage()))
        layers = corpus_layers if corpus else page_layers
        found, last_output = layers(session.workload, ref, tracer, stats)
    m.update(found)
    m["state.cached_mb_after"], m["state.rdd_blocks_after"] = state[-1]
    m["pipeline.extract_errors"] = output_errors(workload_name, last_output,
                                                 ref)[0]
    if corpus:
        m["trace.untraced_iter_s"] = statistics.median(walls)
    untraced = m["trace.untraced_iter_s"]
    m["trace.overhead_s"] = m["trace.traced_iter_s"] - untraced
    m["trace.prefix_coverage"] = m["prefix_sum"] / untraced
    os.makedirs(results_dir, exist_ok=True)
    tracer.write(os.path.join(results_dir, f"{run_id}.spans.jsonl"))
    metrics = {name: {"value": float(m[name]), "unit": unit}
               for name, unit in PER_LAYER.items()}
    return metrics, walls, outs
