"""BPE training/application vs an independent pure-Python reference
(the classic Sennrich et al. 2016 algorithm), including a randomized
corpus sweep — training is count-deterministic (no floats), so the
comparison is exact equality of merge tables and segmentations."""

from __future__ import annotations

import random
import re

from market_insights_app_spark.operators.bpe import (
    _segment_word,
    apply_bpe,
    train_bpe,
)

_WS = re.compile(r"\s+", re.ASCII)


def _ref_words(texts):
    freq: dict[str, int] = {}
    for t in texts:
        for w in _WS.split(t.strip()):
            if w:
                freq[w] = freq.get(w, 0) + 1
    return freq


def _ref_train(texts, n_merges, min_count=1):
    freq = _ref_words(texts)
    vocab = {w: list(w) for w in freq}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq[w]
        if not counts:
            break
        # (count DESC, left ASC, right ASC) — the operator's total order
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (l, r), c = best
        if c < min_count:
            break
        merges.append((l, r, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_train_bpe_matches_reference_golden(spark):
    texts = [
        "low lower lowest low low",
        "newer newest new new newer",
        "wider wide widest",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = train_bpe(df, n_merges=12)
    want = _ref_train(texts, 12)
    assert got == want
    # the most frequent adjacency in this corpus is ("l","o") via 4x low + lower + lowest
    assert got[0][:2] in {("l", "o"), ("n", "e"), ("e", "w")}


def test_train_bpe_overlap_nonoverlapping_semantics(spark):
    # "aaaa" x3: pair (a,a) counts 9 (3 adjacencies x 3 docs); after the
    # first merge the word is [aa, aa], so the next (aa, aa) merge wins
    texts = ["aaaa", "aaaa", "aaaa"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = train_bpe(df, n_merges=3)
    assert got == _ref_train(texts, 3)
    assert got[0][:2] == ("a", "a")
    assert got[1][:2] == ("aa", "aa")


def test_apply_bpe_roundtrip_and_reference(spark):
    texts = ["low lower lowest", "new newer newest", "wide wider widest"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    merges = train_bpe(df, n_merges=10)
    out = {r.doc_id: r for r in apply_bpe(df, merges).collect()}
    ranks = {(l, r): i for i, (l, r, _c) in enumerate(merges)}
    for i, t in enumerate(texts):
        want = []
        for w in t.split():
            want.extend(_segment_word(w, ranks))
        assert out[i].bpe_tokens == want
        assert out[i].n_tokens == len(want)
        # lossless: concatenating subwords restores the original words
        assert "".join(out[i].bpe_tokens) == t.replace(" ", "")


def test_bpe_random_corpora_match_reference(spark):
    rng = random.Random(0xB9E)
    for trial in range(4):
        alphabet = "abc"
        texts = [
            " ".join(
                "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(1, 8))
            )
            for _ in range(6)
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        n = rng.randint(1, 10)
        assert train_bpe(df, n_merges=n) == _ref_train(texts, n), (trial, texts)


def test_bpe_unicode_words(spark):
    # astral-plane and multi-byte symbols segment as code points
    texts = ["😀😀😀 中文中文", "😀😀 中文"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    merges = train_bpe(df, n_merges=4)
    assert merges == _ref_train(texts, 4)
    out = {r.doc_id: r.bpe_tokens for r in apply_bpe(df, merges).collect()}
    assert "".join(out[0]) == "😀😀😀中文中文"


def test_apply_bpe_empty_and_unknown(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "zzz unseen"), (3, None)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in apply_bpe(df, [("a", "b", 2)]).collect()}
    assert out[1].bpe_tokens == [] and out[1].n_tokens == 0
    assert out[2].bpe_tokens == list("zzz") + list("unseen")
    assert out[3].bpe_tokens == []
