"""Exactness tests for distributed BPE training (operators/bpe.py).

The Spark merge loop must reproduce, bit for bit, a pure-Python
Sennrich-style reference fold over the same corpus: the full merge
sequence (rank, left, right, merged, pair_weight), lexicographic
tie-breaking, the greedy leftmost-first overlap rule in _apply_merge
("aaa" + merge(a,a) → ["aa","a"]), and the encode round-trip.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.operators.bpe import (
    _apply_merge,
    bpe_encode,
    bpe_train,
)

# ---------------------------------------------------------------------------
# pure-Python reference implementation (Sennrich et al. 2016 procedure)
# ---------------------------------------------------------------------------


def _ref_apply_merge(sym: list[str], l: str, r: str) -> list[str]:
    out: list[str] = []
    for x in sym:
        if out and out[-1] == l and x == r:
            out[-1] = l + r
        else:
            out.append(x)
    return out


def _ref_words(texts: list[str]) -> Counter:
    words: Counter = Counter()
    for t in texts:
        words.update(w for w in re.split("[^a-z]+", t.lower()) if w)
    return words


def _ref_bpe_train(texts: list[str], n_merges: int) -> list[tuple]:
    words = _ref_words(texts)
    vocab = {w: list(w) for w in words}
    merges: list[tuple] = []
    for rank in range(n_merges):
        pairs: Counter = Counter()
        for w, f in words.items():
            sym = vocab[w]
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += f
        if not pairs:
            break
        # argmax on weight; ties break lexicographically ascending (l, r)
        (l, r), wt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, l, r, l + r, wt))
        for w in vocab:
            vocab[w] = _ref_apply_merge(vocab[w], l, r)
    return merges


def _ref_encode(text: str, merges: list[tuple[str, str]]) -> list[str]:
    out: list[str] = []
    for w in (w for w in re.split("[^a-z]+", text.lower()) if w):
        sym = list(w)
        for l, r in merges:
            sym = _ref_apply_merge(sym, l, r)
        out.extend(sym)
    return out


# ---------------------------------------------------------------------------
# _apply_merge expression-level cases
# ---------------------------------------------------------------------------


def _apply_one(spark, sym: list[str], l: str, r: str) -> list[str]:
    df = spark.createDataFrame([(sym,)], "sym array<string>")
    return df.select(_apply_merge(F.col("sym"), l, r).alias("m")).head()["m"]


def test_apply_merge_overlap_rule(spark):
    # greedy leftmost-first, non-overlapping: the classic l == r traps
    assert _apply_one(spark, ["a", "a", "a"], "a", "a") == ["aa", "a"]
    assert _apply_one(spark, ["a", "a", "a", "a"], "a", "a") == ["aa", "aa"]
    # merged symbol never re-matches within the same pass
    assert _apply_one(spark, ["a", "b", "b"], "a", "b") == ["ab", "b"]
    # multiple disjoint sites all merge in one pass
    assert _apply_one(spark, ["a", "b", "c", "a", "b"], "a", "b") == [
        "ab",
        "c",
        "ab",
    ]
    # no-op when the pair is absent
    assert _apply_one(spark, ["x", "y"], "a", "b") == ["x", "y"]
    # empty and singleton arrays survive the fold
    assert _apply_one(spark, [], "a", "b") == []
    assert _apply_one(spark, ["a"], "a", "a") == ["a"]


def test_apply_merge_matches_reference_randomized(spark):
    import itertools

    # exhaustive over all length-<=4 symbol arrays from a 2-letter alphabet,
    # for every possible merge pair — no overlap corner escapes
    alphabet = ["a", "b"]
    cases = []
    for n in range(5):
        cases.extend(itertools.product(alphabet, repeat=n))
    rows = [(list(c),) for c in cases]
    df = spark.createDataFrame(rows, "sym array<string>")
    for l, r in itertools.product(alphabet, repeat=2):
        got = [
            row["m"]
            for row in df.select(_apply_merge(F.col("sym"), l, r).alias("m")).collect()
        ]
        want = [_ref_apply_merge(list(c), l, r) for c in cases]
        assert got == want, f"merge ({l},{r})"


# ---------------------------------------------------------------------------
# full training parity
# ---------------------------------------------------------------------------

CORPUS = [
    "the cat sat on the mat",
    "the cats sat",
    "banana banana bandana",
    "aaa aaaa ab abab",
    "low lower lowest newer newest",
    "",  # empty doc
    "a b c d e",  # 1-char words only
    "123 !!!",  # no alpha tokens at all
]


def _train_spark(spark, texts: list[str], n_merges: int) -> list[tuple]:
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = bpe_train(df, n_merges=n_merges).orderBy("rank").collect()
    return [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_weight"]) for r in rows
    ]


def test_bpe_train_matches_reference_fold(spark):
    got = _train_spark(spark, CORPUS, 10)
    want = _ref_bpe_train(CORPUS, 10)
    assert got == want


def test_bpe_train_tie_breaks_lexicographically(spark):
    # (a,b) and (c,d) both weigh 1 — the lexicographically smaller pair wins
    got = _train_spark(spark, ["cd ab"], 2)
    want = _ref_bpe_train(["cd ab"], 2)
    assert got == want
    assert got[0][1:3] == ("a", "b")


def test_bpe_train_exhausts_gracefully(spark):
    # corpus with only 1-char words has zero adjacent pairs: 0 merges
    assert _train_spark(spark, ["a b c", "b c a"], 4) == []
    # tiny corpus runs out of distinct pairs before n_merges
    got = _train_spark(spark, ["ab ab"], 8)
    want = _ref_bpe_train(["ab ab"], 8)
    assert got == want
    assert len(got) == 1  # only (a,b) exists


def test_bpe_encode_round_trip(spark):
    merges_full = _ref_bpe_train(CORPUS, 6)
    merges = [(l, r) for _, l, r, _, _ in merges_full]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    for i, t in enumerate(CORPUS):
        want = _ref_encode(t, merges)
        row = out[i]
        assert row["subwords"] == want, f"doc {i}"
        assert row["n_subwords"] == len(want)
        assert row["n_words"] == len([w for w in re.split("[^a-z]+", t.lower()) if w])
        # subwords re-concatenate to the original tokenized text
        assert "".join(row["subwords"]) == "".join(
            w for w in re.split("[^a-z]+", t.lower()) if w
        )


def test_bpe_catalog_entry_matches_reference_on_testdata(spark, sf_dir):
    """t_bpe_train (the catalog entry: 1-in-11 doc sample, 6 merges) against
    the pure-Python fold over the same sampled documents."""
    from good_enough_timecamp_data_pipeline_spark.plans.advanced import t_bpe_train

    texts = [
        r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 11 == 0)
        .select("text")
        .collect()
    ]
    want = _ref_bpe_train(texts, 6)
    rows = t_bpe_train(spark, sf_dir).orderBy("rank").collect()
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_weight"]) for r in rows
    ]
    assert got == want
