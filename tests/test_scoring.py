import random
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from web_content_extraction_benchmark_spark.functions.scoring import (
    _lcs_match_indices,
    lcs_length,
    rouge_lsum,
    split_sentences,
    token_levenshtein_ratio,
)
from web_content_extraction_benchmark_spark.textutils import ws_tokens


def _lcs_dp(a, b):
    prev = [0] * (len(b) + 1)
    for x in a:
        cur = [0] * (len(b) + 1)
        for j, y in enumerate(b):
            cur[j + 1] = prev[j] + 1 if x == y else max(prev[j + 1], cur[j])
        prev = cur
    return prev[-1]


def test_lcs_matches_dp_randomized():
    rng = random.Random(42)
    for _ in range(500):
        a = [rng.randint(0, 6) for _ in range(rng.randint(0, 30))]
        b = [rng.randint(0, 6) for _ in range(rng.randint(0, 30))]
        assert lcs_length(a, b) == _lcs_dp(a, b)


def test_levenshtein_ratio_values():
    # identical -> 1
    assert token_levenshtein_ratio("a b c", "a b c") == 1.0
    # one insertion over 3+4 tokens: 2*3/7
    assert token_levenshtein_ratio("a b c", "a b c d") == pytest.approx(6 / 7)
    # disjoint -> 0
    assert token_levenshtein_ratio("a b", "c d") == 0.0
    # token-level, not char-level: 'ab' vs 'abc' are different tokens
    assert token_levenshtein_ratio("ab", "abc") == 0.0
    # both empty / whitespace-only -> 1.0 (eval.py:61-71 + util.py:47-57)
    assert token_levenshtein_ratio("", "") == 1.0
    assert token_levenshtein_ratio("   ", "\n\t") == 1.0
    # one side empty -> 0
    assert token_levenshtein_ratio("", "a") == 0.0


def test_rouge_empty_target_overrides():
    # target '' & pred '' -> all 1.0 (eval.py:50-55)
    assert rouge_lsum("", "") == (1.0, 1.0, 1.0)
    # target '' & pred non-empty -> rec=1, prec=0, f1=0
    assert rouge_lsum("", "x y") == (0.0, 1.0, 0.0)
    # whitespace-only target behaves as empty
    assert rouge_lsum("  \n ", "x") == (0.0, 1.0, 0.0)


def test_rouge_perfect_match():
    prec, rec, f1 = rouge_lsum("a b c\nd e f", "a b c\nd e f")
    assert (prec, rec, f1) == (1.0, 1.0, 1.0)


def test_rouge_hand_computed():
    # target 5 tokens, pred 6 tokens, all 5 target tokens recovered:
    # prec = 5/6, rec = 1, f1 = 2pr/(p+r)
    prec, rec, f1 = rouge_lsum("a b c\nd e", "a b c x\nd e")
    assert rec == 1.0
    assert prec == pytest.approx(5 / 6)
    assert f1 == pytest.approx(2 * (5 / 6) / (1 + 5 / 6))


def test_rouge_union_lcs_clipping():
    # pred has 'a' once; target sentences both contain 'a' -> only one hit
    prec, rec, f1 = rouge_lsum("a\na", "a")
    assert rec == pytest.approx(0.5)
    assert prec == pytest.approx(1.0)


def test_split_sentences():
    assert split_sentences("One two. Three four") == ["One two.", "Three four"]
    assert split_sentences("line one\nline two") == ["line one", "line two"]
    assert split_sentences("") == []
    assert split_sentences(" \n ") == []


def _rouge_lsum_all_pairs(target, pred):
    """rouge_lsum with the union built from every (ref, candidate) LCS,
    never short-circuited: the reference the covered-sentence skip must
    reproduce exactly."""
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
    if not target.strip():
        rec = 1.0
        if not pred.strip():
            prec = 1.0
            f1 = 1.0
    return prec, rec, f1


_words = st.lists(st.sampled_from("abcdef"), max_size=9)
_seps = st.sampled_from(["\n", ". ", "! ", "? ", "\n \n", "\n\t\n", " "])


@st.composite
def _texts(draw):
    """(target, pred) pairs whose candidate sentences copy, embed, cut,
    repeat or ignore the target's sentences."""
    target = draw(st.lists(_words, max_size=6))
    pred = []
    for _ in range(draw(st.integers(0, 7))):
        kind = draw(st.sampled_from(
            ["copy", "embed", "slice", "repeat", "fresh"]))
        src = draw(st.sampled_from(target)) if target else []
        if kind == "copy":
            pred.append(list(src))
        elif kind == "embed":
            pred.append(draw(_words) + src + draw(_words))
        elif kind == "slice":
            i = draw(st.integers(0, len(src)))
            j = draw(st.integers(i, len(src)))
            pred.append(src[i:j] + draw(_words))
        elif kind == "repeat" and pred:
            pred.append(list(draw(st.sampled_from(pred))))
        else:
            pred.append(draw(_words))

    def join(sents):
        return "".join(" ".join(s) + draw(_seps) for s in sents)

    return join(target), join(pred)


@given(_texts())
@settings(max_examples=500, deadline=None)
def test_rouge_covered_sentence_skip_matches_all_pairs(texts):
    target, pred = texts
    assert rouge_lsum(target, pred) == _rouge_lsum_all_pairs(target, pred)
