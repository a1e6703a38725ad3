"""WordPiece goldens (round 10): the Spark trainer and encoder must
reproduce a pure-Python WordPiece reference exactly — same word-frequency
table (lowercase, \\s+ split, len >= 2, like the BPE/unigram twins in
test_lm.py), same likelihood score count(ab)/(count(a)count(b)), same
(score desc, cnt desc, pair asc) tiebreak, same greedy left-to-right merge
application, same longest-match-first encode with [UNK] fallback."""

import re
from collections import Counter
from fractions import Fraction

import pandas as pd

from spark_text_clustering_spark.operators.textprep import (
    wordpiece_encode_corpus,
    wordpiece_train_merges,
)

from .conftest import SF_SMALL

_N = 8


def _word_freqs(sf_dir):
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    freqs = Counter()
    for t in pdf["text"].dropna():
        for w in re.split(r"\s+", t.lower()):
            if len(w) >= 2:
                freqs[w] += 1
    return freqs


def _init_syms(word):
    return [word[0]] + ["##" + c for c in word[1:]]


def _python_wordpiece_train(freqs, n_merges):
    syms = {w: _init_syms(w) for w in freqs}
    merges = []
    for step in range(n_merges):
        pair_cnt: Counter = Counter()
        unit_cnt: Counter = Counter()
        for w, f in freqs.items():
            s = syms[w]
            for x in s:
                unit_cnt[x] += f
            for i in range(len(s) - 1):
                pair_cnt[(s[i], s[i + 1])] += f
        if not pair_cnt:
            break
        # exact-integer selection (Fraction), matching the engine's
        # band-then-exact pick: double rounding past 2^53 can't flip ties
        (a, b), cnt = min(
            pair_cnt.items(),
            key=lambda kv: (
                -Fraction(kv[1], unit_cnt[kv[0][0]] * unit_cnt[kv[0][1]]),
                -kv[1],
                kv[0],
            ),
        )
        score = cnt / (unit_cnt[a] * unit_cnt[b])
        merges.append((step, a, b, score, cnt))
        merged = a + (b[2:] if b.startswith("##") else b)
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


def test_wordpiece_train_matches_python_reference(spark):
    got = [
        (r["step"], r["left"], r["right"], r["score"], r["pair_count"])
        for r in wordpiece_train_merges(spark, SF_SMALL, n_merges=_N)
        .orderBy("step")
        .collect()
    ]
    freqs = _word_freqs(SF_SMALL)
    want, _ = _python_wordpiece_train(freqs, _N)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3] and g[4] == w[4], (g, w)
        assert abs(g[3] - w[3]) < 1e-15


def test_wordpiece_scoring_differs_from_bpe(spark):
    """Non-vacuity: on this corpus the likelihood score must pick a
    different merge sequence than raw pair frequency would — otherwise
    the key is just BPE with a prefix convention."""
    from spark_text_clustering_spark.operators.textprep import bpe_train_merges

    wp = [
        (r["left"], r["right"])
        for r in wordpiece_train_merges(spark, SF_SMALL, n_merges=_N)
        .orderBy("step")
        .collect()
    ]
    bpe = [
        (r["left"], r["right"])
        for r in bpe_train_merges(spark, SF_SMALL, n_merges=_N)
        .orderBy("step")
        .collect()
    ]
    stripped = [(a.replace("##", ""), b.replace("##", "")) for a, b in wp]
    assert stripped != bpe


def test_wordpiece_exact_pick_beats_double_rounding():
    """Adversarial near-tie past 2^53 (round-10 advice): two pairs whose
    exact scores differ, but whose double-product scores collide because
    cnt_a = 2^53+1 is not representable and rounds to 2^53. The old
    double-only ordering would then fall to the lexicographic tiebreak and
    pick the WRONG pair; the exact-Fraction key must not."""
    from spark_text_clustering_spark.operators.textprep import _wp_exact_key

    p53 = 2**53
    # (a, b, cnt, cnt_a, cnt_b): exact scores 1/2^53  vs  1/(2^53+1)
    rows = [
        ("z", "##z", 1, p53, 1),  # exact winner (larger exact score)
        ("a", "##a", 1, p53 + 1, 1),  # double-rounds to the same score
    ]
    # double path: product rounds, scores tie, 'a' < 'z' picks the wrong one
    dbl = min(
        rows, key=lambda r: (-(r[2] / (float(r[3]) * float(r[4]))), -r[2], r[0], r[1])
    )
    assert dbl[0] == "a"  # the failure mode is real, not hypothetical
    exact = min(rows, key=lambda r: _wp_exact_key(*r))
    assert exact[0] == "z"


def test_wordpiece_encode_matches_python_reference(spark):
    got = {
        r["token"]: r["cnt"] for r in wordpiece_encode_corpus(spark, SF_SMALL).collect()
    }
    freqs = _word_freqs(SF_SMALL)
    merges, _ = _python_wordpiece_train(freqs, 10)  # operator default
    vocab = set()
    for w in freqs:
        vocab.update(_init_syms(w))
    for _, a, b, _, _ in merges:
        vocab.add(a + (b[2:] if b.startswith("##") else b))
    max_len = max(len(s) for s in vocab)

    def enc(word):
        out, i, n = [], 0, len(word)
        while i < n:
            end = min(n, i + max_len)
            piece = None
            while end > i:
                sub = word[i:end]
                if i > 0:
                    sub = "##" + sub
                if sub in vocab:
                    piece = sub
                    break
                end -= 1
            if piece is None:
                return ["[UNK]"]
            out.append(piece)
            i = end
        return out

    want: Counter = Counter()
    for w, f in freqs.items():
        for t in enc(w):
            want[t] += f
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert got == dict(top)


def test_wordpiece_encode_covers_merges(spark):
    """The encoded table must actually contain multi-char merged pieces —
    the longest-match path is exercised, not just single-char fallback."""
    rows = wordpiece_encode_corpus(spark, SF_SMALL).collect()
    assert any(len(r["token"].replace("##", "")) >= 2 for r in rows)
