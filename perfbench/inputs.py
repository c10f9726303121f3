"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of ``(workload, seed, scale)``: a seeded
document stream shaped like the repository's ``documents`` fixture
(doc_id, text over a small word vocabulary, source, lang) is rendered into
pages by the package's own page builders (``build_page_html`` /
``encode_page_html``, which keep the empty / gzip / BOM edge rows) or by
the long-page template below, and a seeded share of hostile rows is mixed
in.  The result is written once per key under ``perfbench/.cache`` and the
program under test only ever sees the written parquet tables or
``.warc.gz`` files.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from web_content_extraction_benchmark_spark.sources.pages import (
    build_page_html,
    encode_page_html,
    url_for,
)
from web_content_extraction_benchmark_spark.sources.warc import write_warc_gz

# Bump when a generator's output changes: old cache entries are ignored.
GENERATOR_VERSION = 5
CACHE_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

# Same shape as the fixture corpus: ~31 content words, 20 sources, 5 langs.
VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup group query row data slow filter column agg "
    "line vector customer index block page"
).split()
LANGS = ("en", "fr", "es", "zh", "de")

# Pages per input at scale 1.0, and the files they are spread over.
SIZES = {"extract-short": 8000, "eval-long": 48, "corpus-dedup": 1504}
N_FILES = 8

# Hostile-row shares (at least one row of each kind per input).
TRUNCATED_SHARE = 0.01
INVALID_UTF8_SHARE = 0.01
DEEP_SHARE = 0.0005
DEEP_LEVELS = 20_000
INVALID_BYTES = b"\xc3\x28\xff\xfe\x80\x81"

# Largest eval-long page, in blocks.  Scoring cost grows with the square
# of the block count; at this cap the costliest page still fits inside one
# core's share of an iteration, so the timed stage keeps every core busy
# instead of waiting on a single straggler task.
MAX_BLOCKS = 16

# corpus-dedup shares of exact copies (same bytes, other url) and near
# copies (a few words changed).
EXACT_DUP_SHARE = 0.15
NEAR_DUP_SHARE = 0.10

EPOCH = datetime(2023, 1, 1, tzinfo=timezone.utc)


def documents(rng: random.Random, n: int, first_id: int,
              min_words: int = 8, max_words: int = 90,
              lengths: list[int] | None = None):
    """``n`` synthetic documents (doc_id, source, lang, text) of seeded
    word counts in [min_words, max_words], or of the given ``lengths``."""
    for i in range(n):
        doc_id = first_id + i
        k = lengths[i] if lengths else rng.randint(min_words, max_words)
        words = rng.choices(VOCAB, k=k)
        yield doc_id, f"src{doc_id % 20}", LANGS[doc_id % 5], " ".join(words)


def deep_page(text: str) -> bytes:
    """A page nested ``DEEP_LEVELS`` ``<div>``s deep."""
    return ("<html><body>" + "<div>" * DEEP_LEVELS + f"<p>{text}</p>"
            + "</div>" * DEEP_LEVELS + "</body></html>").encode()


def make_hostile(rng: random.Random, bodies: list[bytes], texts: list[str],
                 eligible: list[int] | None = None) -> dict[str, int]:
    """Replace seeded disjoint shares of ``bodies`` (drawn from the
    ``eligible`` indices, default all) in place with truncated HTML,
    invalid UTF-8 and deeply nested pages; returns the counts."""
    n = len(bodies)
    counts = {
        "truncated": max(1, round(n * TRUNCATED_SHARE)),
        "invalid_utf8": max(1, round(n * INVALID_UTF8_SHARE)),
        "deep": max(1, round(n * DEEP_SHARE)),
    }
    picks = rng.sample(range(n) if eligible is None else eligible,
                       sum(counts.values()))
    for kind, k in counts.items():
        for i in picks[:k]:
            body = bodies[i]
            if kind == "truncated":
                bodies[i] = body[: int(len(body) * rng.uniform(0.3, 0.9))]
            elif kind == "invalid_utf8":
                at = rng.randrange(len(body) + 1)
                bodies[i] = body[:at] + INVALID_BYTES + body[at:]
            else:
                bodies[i] = deep_page(texts[i])
        picks = picks[k:]
    return counts


def long_page(rng: random.Random, doc_id: int, source: str,
              blocks: list[str]) -> tuple[str, str]:
    """(html, truth) of a multi-paragraph article page: the blocks are
    the main text, wrapped in navigation, teaser and footer boilerplate."""
    host = f"host{doc_id % 41}.example"
    nav = " ".join(f'<a href="/s/{j}">section {j}</a>' for j in range(6))
    teasers = "".join(
        f'<li><a href="/t/{doc_id}/{j}">{" ".join(rng.choices(VOCAB, k=4))}'
        "</a></li>" for j in range(rng.randint(3, 9))
    )
    body = "".join(
        (f"<h2>{b}</h2>" if j and j % 7 == 0 and len(b) < 80 else f"<p>{b}</p>")
        for j, b in enumerate(blocks)
    )
    html = (
        f"<html><head><title>{source} {doc_id}</title>"
        "<script>var t=1;</script></head><body>"
        f"<nav>{nav}</nav><article>{body}</article>"
        f'<aside class="related"><ul>{teasers}</ul></aside>'
        f"<footer><p>Copyright 2023 {host}</p></footer></body></html>"
    )
    return html, "\n".join(blocks)


def blocks_per_page(rng: random.Random, n: int) -> list[int]:
    """Long-tailed block counts for ``n`` pages in file order.  The counts
    are the Pareto(2) quantiles at (i + 0.5) / n, capped at MAX_BLOCKS, so
    every seed gets the same histogram (median page ~3 blocks).  They are
    dealt largest first, back and forth, over the N_FILES files (one file
    = one slice of a scan task), so every file holds the same size mix;
    only the order within a file and the words vary by seed."""
    counts = sorted((min(MAX_BLOCKS, 1 + int(2 * (1 - (i + 0.5) / n) ** -0.5))
                     for i in range(n)), reverse=True)
    files: list[list[int]] = [[] for _ in range(N_FILES)]
    for j, k in enumerate(counts):
        lap, pos = divmod(j, N_FILES)
        files[pos if lap % 2 == 0 else N_FILES - 1 - pos].append(k)
    for f in files:
        rng.shuffle(f)
    return [k for f in files for k in f]


def _write_parquet(out_dir: str, columns: dict[str, list],
                   types: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = len(next(iter(columns.values())))
    per = -(-n // N_FILES)
    for k in range(N_FILES):
        part = {c: v[k * per:(k + 1) * per] for c, v in columns.items()}
        table = pa.table({c: pa.array(v, type=types[c])
                          for c, v in part.items()})
        pq.write_table(table, os.path.join(out_dir, f"part-{k:05d}.parquet"))


def _short_pages(rng: random.Random, n: int, first_id: int) -> dict:
    urls, bodies, texts = [], [], []
    for doc_id, source, _lang, text in documents(rng, n, first_id):
        urls.append(url_for(doc_id, source))
        bodies.append(encode_page_html(doc_id,
                                       build_page_html(doc_id, source, text)))
        texts.append(text)
    hostile = make_hostile(rng, bodies, texts)
    return {"url": urls, "html": bodies, "hostile": hostile}


def gen_extract_short(rng: random.Random, n: int, first_id: int,
                      out: str) -> dict:
    pages = _short_pages(rng, n, first_id)
    _write_parquet(out, {"url": pages["url"], "html": pages["html"]},
                   {"url": pa.string(), "html": pa.binary()})
    return {"pages": n, "hostile": pages["hostile"]}


def gen_eval_long(rng: random.Random, n: int, first_id: int,
                  out: str) -> dict:
    urls, bodies, datasets, truths, texts = [], [], [], [], []
    counts = blocks_per_page(rng, n)
    for i, k in enumerate(counts):
        doc_id = first_id + i
        # block lengths spread evenly over 40..200 words, in seeded order
        lengths = [40 + int(160 * (j + 0.5) / k) for j in range(k)]
        rng.shuffle(lengths)
        blocks = [t for *_, t in documents(rng, k, doc_id * 1000,
                                           lengths=lengths)]
        source = f"src{doc_id % 20}"
        html, truth = long_page(rng, doc_id, source, blocks)
        urls.append(url_for(doc_id, source))
        bodies.append(encode_page_html(doc_id, html))
        datasets.append(f"ds{doc_id % 4}")
        truths.append(truth)
        texts.append(blocks[0])
    # hostile rows replace ordinary pages, never the long tail, so every
    # seed keeps the same size histogram
    median = sorted(counts)[n // 2]
    hostile = make_hostile(rng, bodies, texts,
                           [i for i, k in enumerate(counts) if k <= median])
    _write_parquet(
        out,
        {"url": urls, "html": bodies, "dataset": datasets, "truth": truths},
        {"url": pa.string(), "html": pa.binary(), "dataset": pa.string(),
         "truth": pa.string()},
    )
    return {"pages": n, "hostile": hostile}


def _near_copy(rng: random.Random, text: str) -> str:
    """The text with three words swapped for other vocabulary words."""
    words = text.split(" ")
    for _ in range(3):
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
    return " ".join(words)


def gen_corpus_dedup(rng: random.Random, n: int, first_id: int,
                     out: str) -> dict:
    """``.warc.gz`` files: unique pages plus exact copies (same bytes,
    another url) and near copies (three words changed) of earlier pages,
    in a seeded order."""
    n_exact = round(n * EXACT_DUP_SHARE)
    n_near = round(n * NEAR_DUP_SHARE)
    n_unique = n - n_exact - n_near
    rows = []  # (doc_id, source, text, body)
    for doc_id, source, _lang, text in documents(rng, n_unique, first_id,
                                                 min_words=30):
        body = encode_page_html(doc_id, build_page_html(doc_id, source, text))
        rows.append((doc_id, source, text, body))
    next_id = first_id + n_unique
    for kind, count in (("exact", n_exact), ("near", n_near)):
        for _ in range(count):
            _, source, text, body = rng.choice(rows[:n_unique])
            if kind == "near":
                text = _near_copy(rng, text)
                body = encode_page_html(
                    next_id, build_page_html(next_id, source, text))
            rows.append((next_id, source, text, body))
            next_id += 1
    rng.shuffle(rows)
    bodies = [r[3] for r in rows]
    hostile = make_hostile(rng, bodies, [r[2] for r in rows])
    os.makedirs(out, exist_ok=True)
    per = -(-len(rows) // N_FILES)
    for k in range(N_FILES):
        batch = [
            {"url": url_for(doc_id, source),
             "ts": EPOCH.replace(second=doc_id % 60),
             "body": body, "chunked": doc_id % 3 == 1}
            for (doc_id, source, _t, _b), body in zip(
                rows[k * per:(k + 1) * per], bodies[k * per:(k + 1) * per])
        ]
        write_warc_gz(os.path.join(out, f"crawl-{k:05d}.warc.gz"), batch)
    # Decontamination benchmark: one unique document's text.
    bench_text = rows[rng.randrange(len(rows))][2]
    return {"pages": n, "hostile": hostile, "exact_copies": n_exact,
            "near_copies": n_near, "bench_text": bench_text}


GENERATORS = {
    "extract-short": gen_extract_short,
    "eval-long": gen_eval_long,
    "corpus-dedup": gen_corpus_dedup,
}


def tree_digest(path: str) -> str:
    """sha256 over the relative names and bytes of every file under path."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode() + b"\0")
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def prepare(workload: str, seed: int, scale: float = 1.0,
            cache_root: str = CACHE_ROOT) -> dict:
    """Generate (or reuse) the inputs of one workload; returns the input
    description: path, counts, digest and whether the cache was cold."""
    n = max(40, int(SIZES[workload] * scale))
    key = f"{workload}-s{seed}-n{n}-v{GENERATOR_VERSION}"
    root = os.path.join(cache_root, key)
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["cache_cold"] = False
        return meta
    started = time.perf_counter()
    shutil.rmtree(root, ignore_errors=True)
    rng = random.Random(f"{workload}:{seed}")
    # doc ids move with the seed, so urls (and the salted partitioning
    # that hashes them) differ between seeds
    first_id = (seed % 997) * 10_000_000
    main_dir = os.path.join(root, "main")
    meta = {"workload": workload, "seed": seed, "scale": scale,
            "main": main_dir}
    meta.update(GENERATORS[workload](rng, n, first_id, main_dir))
    meta["digest"] = tree_digest(main_dir)
    meta["input_mb"] = sum(
        os.path.getsize(os.path.join(main_dir, f))
        for f in os.listdir(main_dir)) / 1e6
    meta["generate_s"] = time.perf_counter() - started
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    meta["cache_cold"] = True
    return meta
