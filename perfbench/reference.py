"""Single-process reference outputs and the correctness gate.

The reference runs the package's pure functions (byte decoder, DOM
parser, extractors, scorers, WARC record reader) in one Python process
over the same generated inputs the Spark workload reads, and reduces the
result to the same summary the workload's iteration returns.  ``check``
compares the two and returns the list of mismatches (empty = pass).
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

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
from web_content_extraction_benchmark_spark.sources.warc import (
    iter_warc_records,
    parse_http_response,
)

MODELS = {
    "extract-short": ["main_content", "readability"],
    "eval-long": ["plain", "main_content", "readability"],
    "corpus-dedup": ["main_content"],
}
SCORE_COLS = ("dist", "prec", "rec", "f1", "err")
UNIT = 10**6
JACCARD_THRESHOLD = 0.8
SHINGLE_K = 3
ROW_HASH_HEX = 10  # 40-bit row hashes: sums stay exact below 2**23 rows
# Java's \s: what regexp_replace(plaintext, '\\s+', ' ') folds.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def extract_page(blob: bytes | None, models: list[str]) -> list[tuple[str, bool]]:
    """(plaintext, error) per model for one page: decode once, parse once,
    run each extractor; an extractor that raises yields ('', True)."""
    html = decode_html(blob)
    try:
        root = parse_html(html)
    except Exception:
        root = None
    out = []
    for model in models:
        tree_fn = TREE_EXTRACTORS.get(model)
        try:
            if tree_fn is not None and root is not None:
                text = tree_fn(root) or ""
            else:
                text = EXTRACTORS[model](html) or ""
            out.append((text, False))
        except Exception:
            out.append(("", True))
    return out


def row_hash(*fields: str) -> int:
    """40-bit prefix of sha256 over NUL-joined fields (mirrors the Spark
    expression in workloads.row_hash_col)."""
    digest = hashlib.sha256("\0".join(fields).encode("utf-8")).hexdigest()
    return int(digest[:ROW_HASH_HEX], 16)


def single_space(text: str) -> str:
    return _JAVA_WS.sub(" ", text)


def doc_id_of(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    words = text.split(" ")
    if len(words) < k:
        return set()
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: str, b: str) -> float | None:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else None


def _read_pages(path: str, columns: list[str]) -> dict[str, list]:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    tables = [pq.read_table(f, columns=columns) for f in files]
    return {c: [v for t in tables for v in t.column(c).to_pylist()]
            for c in columns}


def read_warc_pages(path: str) -> list[tuple[str, bytes]]:
    """(url, body) of every response record in a directory of WARC files."""
    pages = []
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            raw = f.read()
        for headers, payload in iter_warc_records(raw):
            if headers.get("warc-type") == "response":
                _status, _headers, body = parse_http_response(payload)
                pages.append((headers["warc-target-uri"], body))
    return pages


# ---------------------------------------------------------------- summaries

def _half_up(x: float, places: int) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places),
                                     rounding=ROUND_HALF_UP)


def unit_mean(values: list[float]) -> float:
    """Spark's integer micro-unit mean: sum(round(x * 1e6)) / (n * 1e6)."""
    total = sum(int(_half_up(v * UNIT, 0)) for v in values)
    return total / (len(values) * float(UNIT))


def spark_median(values: list[float]) -> float:
    """Spark's exact percentile(0.5): linear interpolation between ranks."""
    s = sorted(values)
    pos = (len(s) - 1) * 0.5
    lo, hi = int(pos // 1), int(-(-pos // 1))
    if lo == hi or s[lo] == s[hi]:
        return s[lo]
    return (hi - pos) * s[lo] + (pos - lo) * s[hi]


def aggregate(scores: list[tuple]) -> list[list]:
    """Mirror of aggregate_scores(unit_scale=1e6) over
    (model, dataset, dist, prec, rec, f1, err) rows."""
    groups: dict = defaultdict(list)
    for model, dataset, *vals in scores:
        groups[(model, dataset)].append(vals)
        groups[(model, "_micro")].append(vals)
    n = len(SCORE_COLS)
    rows = {}
    for key, vals in groups.items():
        cols = list(zip(*vals))
        rows[key] = ([unit_mean(list(c)) for c in cols]
                     + [spark_median(list(c)) for c in cols])
    for model in {m for m, _ in rows}:
        per_ds = [v for (m, d), v in rows.items()
                  if m == model and not d.startswith("_")]
        means = [sum(float(_half_up(v[i], 6)) for v in per_ds) / len(per_ds)
                 for i in range(n)]
        medians = [spark_median([v[n + i] for v in per_ds]) for i in range(n)]
        rows[(model, "_macro")] = means + medians
    return sorted([m, d, *v] for (m, d), v in rows.items())


# ---------------------------------------------------------------- references

def reference(workload: str, meta: dict) -> dict:
    """The reference summary of one generated input (JSON-serialisable)."""
    models = MODELS[workload]
    if workload == "extract-short":
        pages = _read_pages(meta["main"], ["url", "html"])
        summary = {m: {"rows": 0, "chars": 0, "errors": 0, "hash": 0}
                   for m in models}
        for url, blob in zip(pages["url"], pages["html"]):
            for model, (text, err) in zip(models, extract_page(blob, models)):
                s = summary[model]
                s["rows"] += 1
                s["chars"] += len(text)
                s["errors"] += err
                s["hash"] += row_hash(url, model, text)
        return {"models": summary, "expected_rows": len(pages["url"]) * len(models)}
    if workload == "eval-long":
        pages = _read_pages(meta["main"], ["url", "html", "dataset", "truth"])
        scores = []
        for blob, dataset, truth in zip(pages["html"], pages["dataset"],
                                        pages["truth"]):
            for model, (text, err) in zip(models, extract_page(blob, models)):
                prec, rec, f1 = rouge_lsum(truth, text)
                scores.append((model, dataset,
                               token_levenshtein_ratio(truth, text),
                               prec, rec, f1, float(err)))
        return {"aggregate": aggregate(scores),
                "errors": sum(int(s[-1]) for s in scores),
                "expected_rows": len(scores)}
    if workload == "corpus-dedup":
        pages = read_warc_pages(meta["main"])
        texts: dict[int, str] = {}
        errors = 0
        for url, body in pages:
            (text, err), = extract_page(body, models)
            errors += err
            text = single_space(text)
            if not err and text:
                texts[doc_id_of(url)] = text
        winners: dict[str, int] = {}
        for doc_id, text in texts.items():
            if text not in winners or doc_id < winners[text]:
                winners[text] = doc_id
        survivors = sorted(winners.values())
        return {"expected_rows": len(pages), "errors": errors,
                "exact_ids": survivors,
                "texts": {str(i): texts[i] for i in survivors}}
    raise ValueError(f"unknown workload {workload!r}")


# ---------------------------------------------------------------- the gate

def error_rows(workload: str, ref: dict) -> int:
    """Extraction error rows the reference saw."""
    if workload == "extract-short":
        return sum(m["errors"] for m in ref["models"].values())
    return ref["errors"]


def output_errors(workload: str, out: dict, ref: dict) -> tuple[int, int]:
    """(error rows, rows) as one iteration's output reports them."""
    if workload == "extract-short":
        return (sum(m["errors"] for m in out["models"].values()),
                sum(m["rows"] for m in out["models"].values()))
    if workload == "eval-long":
        # the aggregate carries each model's share of error rows; every
        # model scores every page
        micro = [r for r in out["aggregate"] if r[1] == "_micro"]
        per_model = ref["expected_rows"] / len(micro)
        return (round(sum(r[2 + SCORE_COLS.index("err")] for r in micro)
                      * per_model), ref["expected_rows"])
    return out["errors"], out["rows"]


def _components_losers(pairs: list) -> set[int]:
    """Non-minimal members of the connected components of ``pairs``."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for x in parent if find(x) != x}


def check(workload: str, out: dict, ref: dict) -> list[str]:
    """Mismatches between one iteration's output and the reference."""
    problems: list[str] = []
    if workload == "extract-short":
        for model, want in ref["models"].items():
            got = out["models"].get(model)
            if got != want:
                problems.append(f"{model}: got {got}, want {want}")
        extra = set(out["models"]) - set(ref["models"])
        if extra:
            problems.append(f"unexpected models {sorted(extra)}")
    elif workload == "eval-long":
        got_rows, want_rows = out["aggregate"], ref["aggregate"]
        if [r[:2] for r in got_rows] != [r[:2] for r in want_rows]:
            problems.append("aggregate keys differ: "
                            f"{[r[:2] for r in got_rows]}")
        else:
            for got, want in zip(got_rows, want_rows):
                exact = not got[1].startswith("_macro")
                for name, g, w in zip(("mean", "median"), (got[2:], got[7:]),
                                      (want[2:], want[7:])):
                    for col, gv, wv in zip(SCORE_COLS, g[:5], w[:5]):
                        if (gv != wv) if exact else abs(gv - wv) > 1e-9:
                            problems.append(f"{got[0]}/{got[1]} {name}_{col}:"
                                            f" got {gv!r}, want {wv!r}")
    elif workload == "corpus-dedup":
        for key in ("rows", "errors"):
            want = ref["expected_rows"] if key == "rows" else ref["errors"]
            if out[key] != want:
                problems.append(f"{key}: got {out[key]}, want {want}")
        if out["exact_ids"] != ref["exact_ids"]:
            got, want = set(out["exact_ids"]), set(ref["exact_ids"])
            problems.append(f"exact-dedup survivors differ: {len(got - want)} "
                            f"extra, {len(want - got)} missing")
        texts = ref["texts"]
        for a, b, j in out["pairs"]:
            ta, tb = texts.get(str(a)), texts.get(str(b))
            if ta is None or tb is None:
                problems.append(f"pair ({a}, {b}) names a non-survivor")
                continue
            exact = jaccard(ta, tb)
            if exact is None or exact < JACCARD_THRESHOLD or exact != j:
                problems.append(f"pair ({a}, {b}): jaccard {j}, exact {exact}")
        if "written_ids" in out:
            allowed = set(ref["exact_ids"]) - _components_losers(out["pairs"])
            stray = set(out["written_ids"]) - allowed
            if stray:
                problems.append(f"{len(stray)} written ids are not near-dedup "
                                "survivors")
    else:
        problems.append(f"unknown workload {workload!r}")
    return problems
