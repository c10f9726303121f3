"""Quality scorers: token-level Levenshtein ratio and ROUGE-LSum.

Semantics follow the reference's evaluation stage
(/root/reference/src/extraction_benchmark/eval.py:35-71): both scorers
tokenize by whitespace; Levenshtein is the indel *ratio over token lists*
(NOT Spark's char-level ``F.levenshtein``), ROUGE-LSum is union-LCS over
sentence splits with the empty-target overrides of eval.py:50-55.

The LCS length kernel is bit-parallel (Hyyrö-style, one bigint per token
row) — O(|a|·|b|/word) instead of the quadratic DP, which matters because
scoring runs over every (page, model) pair.

Deviation from the reference, documented: the reference's rouge_score
dependency sentence-splits with NLTK punkt (downloaded at cli/eval.py:28-64);
the sandbox has no nltk, so sentences split on newlines then on
sentence-final punctuation followed by whitespace.
"""

from __future__ import annotations

import re
from collections import Counter

from ..textutils import ws_tokens

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")


def split_sentences(text: str) -> list[str]:
    """Newline-first sentence split, then punctuation boundaries."""
    sentences: list[str] = []
    for line in text.split("\n"):
        line = line.strip()
        if not line:
            continue
        sentences.extend(s for s in _SENT_SPLIT.split(line) if s)
    return sentences


def lcs_length(a: list, b: list) -> int:
    """Bit-parallel LCS length over arbitrary hashable tokens."""
    if not a or not b:
        return 0
    if len(b) > len(a):  # fewer bigint words when b is the shorter side
        a, b = b, a
    n = len(b)
    if _is_contiguous_sublist(b, a):  # verbatim containment: LCS == |b|
        return n
    masks: dict = {}
    bit = 1
    for token in b:
        masks[token] = masks.get(token, 0) | bit
        bit <<= 1
    full = (1 << n) - 1
    v = full
    for token in a:
        m = masks.get(token)
        if m is None:
            continue
        u = v & m
        v = (v + u) | (v - u)
    return n - (v & full).bit_count()


def token_levenshtein_ratio(target: str, pred: str) -> float:
    """Indel similarity ratio over whitespace token lists: 2*LCS/(|a|+|b|);
    1.0 when both are empty (Levenshtein.ratio semantics, eval.py:61-71)."""
    a = ws_tokens(target)
    b = ws_tokens(pred)
    total = len(a) + len(b)
    if total == 0:
        return 1.0
    return 2.0 * lcs_length(a, b) / total


def _lcs_table(ref: list[str], can: list[str]):
    """LCS DP table built row-wise with numpy.

    Recurrence per row: t[j] = max(prev[j], prev[j-1] + eq[j]) followed by
    left-to-right propagation cur[j] = max(t[j], cur[j-1]), which is exactly
    ``np.maximum.accumulate`` — so each row is two vector ops instead of an
    inner Python loop.  Scoring runs over every (page, model) pair, so this
    kernel is hot.
    """
    import numpy as np

    m, n = len(ref), len(can)
    ids: dict[str, int] = {}
    can_arr = np.fromiter(
        (ids.setdefault(t, len(ids)) for t in can), dtype=np.int64, count=n
    )
    ref_arr = np.fromiter(
        (ids.setdefault(t, len(ids)) for t in ref), dtype=np.int64, count=m
    )
    table = np.zeros((m + 1, n + 1), dtype=np.int32)
    for i in range(m):
        prev = table[i]
        t = np.maximum(prev[1:], prev[:-1] + (can_arr == ref_arr[i]))
        table[i + 1, 1:] = np.maximum.accumulate(t)
    return table


def _is_contiguous_sublist(ref: list[str], can: list[str]) -> bool:
    m, n = len(ref), len(can)
    if m > n:
        return False
    first = ref[0]
    for start in range(n - m + 1):
        if can[start] == first and can[start:start + m] == ref:
            return True
    return False


def _lcs_match_indices(ref: list[str], can: list[str]) -> list[int]:
    """Indices in ``ref`` participating in one LCS with ``can`` (standard
    DP backtrack, ties resolved toward the candidate side)."""
    m, n = len(ref), len(can)
    if m == 0 or n == 0:
        return []
    # fast path: ref appearing contiguously in can means every ref index
    # participates — no DP needed.  This is the common case when an
    # extractor's output embeds the gold text verbatim.
    if _is_contiguous_sublist(ref, can):
        return list(range(m))
    table = _lcs_table(ref, can)
    indices: list[int] = []
    i, j = m, n
    while i > 0 and j > 0:
        if ref[i - 1] == can[j - 1]:
            indices.append(i - 1)
            i -= 1
            j -= 1
        elif table[i][j - 1] > table[i - 1][j]:
            j -= 1
        else:
            i -= 1
    indices.reverse()
    return indices


def rouge_lsum(target: str, pred: str) -> tuple[float, float, float]:
    """Summary-level ROUGE-L (union-LCS) precision/recall/F1 with the
    reference's empty-target overrides (eval.py:50-55)."""
    target_sents = [ws_tokens(s) for s in split_sentences(target)]
    pred_sents = [ws_tokens(s) for s in split_sentences(pred)]
    m = sum(len(s) for s in target_sents)
    n = sum(len(s) for s in pred_sents)

    prec = rec = f1 = 0.0
    if m > 0 and n > 0:
        cnt_target = Counter(t for s in target_sents for t in s)
        cnt_pred = Counter(t for s in pred_sents for t in s)
        hits = 0
        for ref_sent in target_sents:
            if not ref_sent:
                continue
            # A candidate sentence containing ref_sent verbatim already
            # puts every ref index in the union, and a full union cannot
            # grow: skip every per-pair LCS DP for this sentence.
            if any(_is_contiguous_sublist(ref_sent, can_sent)
                   for can_sent in pred_sents):
                union = range(len(ref_sent))
            else:
                union = set()
                for can_sent in pred_sents:
                    union.update(_lcs_match_indices(ref_sent, can_sent))
            for idx in sorted(union):
                token = ref_sent[idx]
                if cnt_target[token] > 0 and cnt_pred[token] > 0:
                    hits += 1
                    cnt_target[token] -= 1
                    cnt_pred[token] -= 1
        prec = hits / n
        rec = hits / m
        if prec + rec > 0:
            f1 = 2.0 * prec * rec / (prec + rec)

    # Empty-target overrides exactly as the reference applies them.
    if not target.strip():
        rec = 1.0
        if not pred.strip():
            prec = 1.0
            f1 = 1.0
    return prec, rec, f1
